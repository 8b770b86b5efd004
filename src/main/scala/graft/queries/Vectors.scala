package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.{D, Tables}

/** Vector / similarity-search tier over embeddings (SURVEY §2.11).
  *
  * Determinism: Spark `aggregate` and DuckDB `list_aggregate('sum')` both
  * fold left-to-right over double-cast elements, so dot products and norms
  * are bit-identical (verified: 500/500 vectors match the reference fold;
  * DuckDB's builtin list_cosine_similarity does NOT — 1/500 differs in the
  * last ulp — so oracles spell out the same zip/transform/aggregate shape).
  *
  * 100-TB notes: vec_cosine_topk broadcasts the single query vector and
  * scans linearly — the 1-vs-all shape scales to any corpus; the top-k is
  * TakeOrdered (per-partition heap, no global sort). All-pairs
  * vec_knn_threshold is capped (vec_id < 200) because pairwise cosine is
  * inherently quadratic; the uncapped path is LSH bucketing (Approx).
  */
object Vectors {

  // single shared implementation of the fold shapes (util/V.scala) — the
  // Ops API and these graded queries must stay bit-identical
  import graft.util.V.{dbl, sumArr, dot, norm}

  /** DuckDB mirror of the exact same left-to-right fold expressions
    * (package-visible: Approx's graded ANN oracles replay them too). */
  private[queries] def oDot(a: String, b: String): String =
    s"list_aggregate(list_transform(list_zip($a, $b), p -> p[1]*p[2]), 'sum')"
  private[queries] def oNorm(c: String): String =
    s"sqrt(list_aggregate(list_transform($c, x -> x*x), 'sum'))"

  /** L2-normalize embeddings: norm + first four normalized dims. */
  val vecL2Normalize = Q(
    "vec_l2_normalize",
    (spark, sfDir) => {
      val e = dbl(col("embedding"))
      val n = norm(e)
      // + 0.0 canonicalizes -0.0 (sf1 rehearsal: a dim that rounds to zero
      // keeps its sign in DuckDB's round but not Spark's — the engines
      // stringify the two zeros differently)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"),
          round(n, 4).as("l2_norm"),
          (round(element_at(e, 1) / n, 6) + 0.0).as("n1"),
          (round(element_at(e, 2) / n, 6) + 0.0).as("n2"),
          (round(element_at(e, 3) / n, 6) + 0.0).as("n3"),
          (round(element_at(e, 4) / n, 6) + 0.0).as("n4"))
        .orderBy("vec_id")
    },
    Some(s"""SELECT vec_id, round(nrm, 4) AS l2_norm,
            round(e1 / nrm, 6) + 0.0 AS n1, round(e2 / nrm, 6) + 0.0 AS n2,
            round(e3 / nrm, 6) + 0.0 AS n3, round(e4 / nrm, 6) + 0.0 AS n4
            FROM (SELECT vec_id, ${oNorm("embedding::DOUBLE[]")} AS nrm,
                         embedding[1]::DOUBLE AS e1, embedding[2]::DOUBLE AS e2,
                         embedding[3]::DOUBLE AS e3, embedding[4]::DOUBLE AS e4
                  FROM embeddings)
            ORDER BY vec_id"""))

  /** Flagship similarity search: exact cosine top-10 neighbors of vec_id=0.
    * The query vector is broadcast; ordering uses the ROUNDED similarity
    * (ulp-noise-proof) with vec_id tiebreak. */
  val vecCosineTopk = Q(
    "vec_cosine_topk",
    (spark, sfDir) =>
      graft.ops.Ops.cosineTopK(Tables.embeddings(spark, sfDir),
        col("vec_id"), col("embedding"), queryId = 0, k = 10),
    Some(s"""WITH qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
            SELECT vec_id,
                   round(${oDot("embedding::DOUBLE[]", "(SELECT qe FROM qv)")} /
                         (${oNorm("embedding::DOUBLE[]")} * ${oNorm("(SELECT qe FROM qv)")}), 4) AS cos_sim
            FROM embeddings WHERE vec_id != 0
            ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  /** BATCHED exact top-k serving (round-12): vec_cosine_topk answers ONE
    * query; real retrieval serving answers a batch — all pending queries
    * (here the 8 vec_id<8 rows) broadcast together against ONE corpus
    * scan, per-query top-3 by rounded cosine with vec_id tiebreak. The
    * scan cost is paid once for the whole batch instead of once per
    * query — the amortization that makes exact brute-force viable as a
    * rerank stage at scale. Per-query ranking is a window keyed on
    * query_id: cardinality = batch size, which in production is
    * thousands of concurrent queries (no skew); the corpus side never
    * shuffles (broadcast + map-side window input partitioned by scan).
    * D.nz before the rank window per the -0.0 ordering discipline. */
  val vecBatchTopk = Q(
    "vec_batch_topk",
    (spark, sfDir) => {
      graft.functions.DotProduct.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val qs = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), dbl(col("embedding")).as("qe"),
          norm(dbl(col("embedding"))).as("qn"))
      val corpus = emb.filter(col("vec_id") >= 8)
        .select(col("vec_id"), dbl(col("embedding")).as("e"),
          norm(dbl(col("embedding"))).as("nv"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      corpus.crossJoin(broadcast(qs))
        .select(col("query_id"), col("vec_id"),
          graft.util.D.nz(
            round(expr("dot_native(e, qe)") / (col("nv") * col("qn")), 4))
            .as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("query_id"), col("rk").cast("bigint").as("rk"),
          col("vec_id"), col("cos_sim"))
        .orderBy("query_id", "rk")
    },
    Some(s"""SELECT query_id, rk, vec_id, cos_sim FROM (
              SELECT q.vec_id AS query_id, c.vec_id,
                     round(${oDot("c.embedding::DOUBLE[]", "q.embedding::DOUBLE[]")} /
                           (${oNorm("c.embedding::DOUBLE[]")} * ${oNorm("q.embedding::DOUBLE[]")}), 4) + 0.0
                       AS cos_sim,
                     CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       round(${oDot("c.embedding::DOUBLE[]", "q.embedding::DOUBLE[]")} /
                             (${oNorm("c.embedding::DOUBLE[]")} * ${oNorm("q.embedding::DOUBLE[]")}), 4) + 0.0 DESC,
                       c.vec_id) AS BIGINT) AS rk
              FROM embeddings c CROSS JOIN embeddings q
              WHERE q.vec_id < 8 AND c.vec_id >= 8)
            WHERE rk <= 3 ORDER BY query_id, rk"""))

  /** Embedding near-dup pairs: cosine >= 0.3 among vec_id < 200 (capped —
    * quadratic by construction; LSH is the uncapped path). */
  val vecKnnThreshold = Q(
    "vec_knn_threshold",
    (spark, sfDir) => {
      graft.functions.DotProduct.register(spark)
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
      // norms precomputed per row (200 each) instead of per pair (~20k):
      // cuts two thirds of the fold work out of the quadratic join. The
      // per-pair dot runs through the codegen'd dot_native (bit-identical
      // to the HOF fold, NativeDotSpec) — the ~20k-pair inner loop is the
      // hot path, and interpreted zip_with lambdas were its cost.
      val a = emb.select(col("vec_id").as("v1"), dbl(col("embedding")).as("e1"),
        norm(dbl(col("embedding"))).as("nrm1"))
      val b = emb.select(col("vec_id").as("v2"), dbl(col("embedding")).as("e2"),
        norm(dbl(col("embedding"))).as("nrm2"))
      a.join(b, col("v1") < col("v2"))
        .select(col("v1"), col("v2"),
          round(expr("dot_native(e1, e2)") / (col("nrm1") * col("nrm2")), 4)
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.3)
        .orderBy("v1", "v2")
    },
    Some(s"""SELECT v1, v2, cos_sim FROM (
              SELECT a.vec_id AS v1, b.vec_id AS v2,
                     round(${oDot("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} /
                           (${oNorm("a.embedding::DOUBLE[]")} * ${oNorm("b.embedding::DOUBLE[]")}), 4) AS cos_sim
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE a.vec_id < 200 AND b.vec_id < 200)
            WHERE cos_sim >= 0.3
            ORDER BY v1, v2"""))

  /** The same exact cosine top-10 as vec_cosine_topk, but with dot/norm
    * computed by the native codegen'd DotProduct expression instead of
    * interpreted higher-order lambdas — identical results (same fold
    * order), faster hot path. Same oracle as vec_cosine_topk. */
  val vecCosineTopkNative = Q(
    "vec_cosine_topk_native",
    (spark, sfDir) => {
      // Fused single-pass cosine (functions/CosineSim.scala): each array
      // element is read once; bit-identical to the dot/sqrt composition
      // (NativeDotSpec) so the shared oracle still value-matches.
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val q = emb.filter(col("vec_id") === 0)
        .select(dbl(col("embedding")).as("qe"))
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("cosine_native(e, qe)"), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    vecCosineTopk.oracle)

  /** Embedding near-dup CLUSTERS: SemDeDup-shaped candidate generation —
    * assign every vector to its max-cosine seeded centroid (first 8 ids,
    * the same fixed-centroid rule as vec_centroid_assign), generate
    * candidate pairs only WITHIN a cluster (equi-join on the centroid id,
    * never an all-pairs theta join), keep cos ≥ 0.95 edges, then two
    * rounds of min-label propagation (vec_id < 200 graded cap, symmetric
    * edges). Each round is one groupBy over the edge list — the bounded-
    * iteration connected-components shape that runs as K shuffles at any
    * scale (two rounds label every component of diameter ≤ 2, which
    * near-dup clusters overwhelmingly are; the convergence-checked
    * fixpoint variant is Ops.ccFixpoint, graded as text_dedup_cc against
    * a recursive-CTE oracle — round-11). Singletons keep their own id.
    * The min-of-self-and-neighbors is
    * spelled as an explicit CASE so both engines treat the no-neighbor
    * NULL identically.
    *
    * 100-TB notes (r9, replacing the r3-era capped all-pairs edge join):
    * candidate work is bounded by cluster size — production picks k ∝ n
    * so within-cluster pair counts stay constant (the r7 census measured
    * 8× clusters ⇒ 6.6× fewer pairs); centroids are a broadcast; the
    * assignment is one linear scan. The cross-cluster blind spot is the
    * documented SemDeDup trade: a near-dup pair straddling a centroid
    * boundary is not a candidate, on either engine — the oracle mirrors
    * the same assignment, so the contract is exact. */
  /** SemDeDup coarse assignment on the audit slice, factored out so the
    * candidate-generation rule is ONE definition shared by
    * vec_dup_clusters (the clustering) and vec_dedup_threshold_sweep (the
    * calibration of that rule): (vec_id, cid, e, nrm) with cid = argmax
    * rounded-4dp cosine over the 8 fixed seed centroids, cid-asc
    * tiebreak — the total order vec_centroid_assign uses. */
  private def semdedupAssigned(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.DotProduct.register(spark)
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
    val v = emb.select(col("vec_id"), dbl(col("embedding")).as("e"),
      norm(dbl(col("embedding"))).as("nrm"))
    val cent = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("e").as("c"),
        col("nrm").as("cnrm"))
    val wa = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cid"))
    v.crossJoin(broadcast(cent))
      // D.nz on the argmax key: Spark's double sort puts -0.0 < +0.0
      // where DuckDB's treats them equal — normalize before ranking
      .select(col("vec_id"), col("e"), col("nrm"), col("cid"),
        graft.util.D.nz(
          round(expr("dot_native(e, c)") / (col("nrm") * col("cnrm")), 4))
          .as("csim"))
      .withColumn("graft_rn", row_number().over(wa))
      .filter(col("graft_rn") === 1)
      .select(col("vec_id"), col("cid"), col("e"), col("nrm"))
  }

  /** vec_dup_clusters' symmetric near-dup edge list (cos ≥ 0.95 within a
    * SemDeDup cell, both directions) — the build its memo stores. */
  private[graft] def dupClusterEdges(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame = {
    graft.functions.DotProduct.register(spark)
    val assigned = semdedupAssigned(spark, sfDir)
    val a = assigned.select(col("cid"), col("vec_id").as("v1"),
      col("e").as("e1"), col("nrm").as("nrm1"))
    val b = assigned.select(col("cid").as("cid2"), col("vec_id").as("v2"),
      col("e").as("e2"), col("nrm").as("nrm2"))
    val pairs = a.join(b, col("cid") === col("cid2") && col("v1") < col("v2"))
      .select(col("v1"), col("v2"),
        round(expr("dot_native(e1, e2)") / (col("nrm1") * col("nrm2")), 4)
          .as("cos_sim"))
      .filter(col("cos_sim") >= 0.95)
      .select("v1", "v2")
    pairs.unionByName(pairs.select(col("v2").as("v1"), col("v1").as("v2")))
  }

  val vecDupClusters = Q(
    "vec_dup_clusters",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
      // memoized frame: the edge list feeds BOTH propagation rounds
      // (without it, the assignment + within-cluster join re-runs once
      // per propagate()), and bench reps / repeat invocations reuse ONE
      // stored copy instead of stacking a fresh one per call. Production
      // CC loops store each frontier the same way.
      val edges = graft.util.Memo.frame(spark,
        s"$sfDir:dupc_edges:${Tables.tableKey(sfDir, "embeddings")}") {
        dupClusterEdges(spark, sfDir)
      }
      def propagate(labels: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        labels.join(
          edges.join(labels.select(col("vec_id").as("v2x"), col("lbl").as("nlbl")),
            col("v2") === col("v2x"))
            .groupBy("v1").agg(min(col("nlbl")).as("mn")),
          col("vec_id") === col("v1"), "left")
          .select(col("vec_id"),
            when(col("mn").isNull || col("lbl") < col("mn"), col("lbl"))
              .otherwise(col("mn")).as("lbl"))
      val l0 = emb.select(col("vec_id"), col("vec_id").as("lbl"))
      val l2 = propagate(propagate(l0))
      l2.select(col("vec_id"), col("lbl").as("cluster")).orderBy("vec_id")
    },
    Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 200),
            cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
            asg AS (SELECT vec_id, cid FROM (
              SELECT v.vec_id, cent.cid,
                     row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       round(${oDot("v.e", "cent.c")} /
                             (${oNorm("v.e")} * ${oNorm("cent.c")}), 4) + 0.0 DESC,
                       cent.cid) AS rn
              FROM v CROSS JOIN cent) WHERE rn = 1),
            m AS (SELECT asg.vec_id, asg.cid, v.e FROM asg JOIN v USING (vec_id)),
            pairs AS (
              SELECT v1, v2 FROM (
                SELECT a.vec_id AS v1, b.vec_id AS v2,
                       round(${oDot("a.e", "b.e")} /
                             (${oNorm("a.e")} * ${oNorm("b.e")}), 4) AS cos_sim
                FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id)
              WHERE cos_sim >= 0.95),
            edges AS (SELECT v1, v2 FROM pairs
                      UNION ALL SELECT v2 AS v1, v1 AS v2 FROM pairs),
            l0 AS (SELECT vec_id, vec_id AS lbl FROM embeddings WHERE vec_id < 200),
            n1 AS (SELECT e.v1, min(l.lbl) AS mn FROM edges e
                   JOIN l0 l ON e.v2 = l.vec_id GROUP BY e.v1),
            l1 AS (SELECT l0.vec_id,
                          CASE WHEN n1.mn IS NULL OR l0.lbl < n1.mn
                               THEN l0.lbl ELSE n1.mn END AS lbl
                   FROM l0 LEFT JOIN n1 ON l0.vec_id = n1.v1),
            n2 AS (SELECT e.v1, min(l.lbl) AS mn FROM edges e
                   JOIN l1 l ON e.v2 = l.vec_id GROUP BY e.v1),
            l2 AS (SELECT l1.vec_id,
                          CASE WHEN n2.mn IS NULL OR l1.lbl < n2.mn
                               THEN l1.lbl ELSE n2.mn END AS lbl
                   FROM l1 LEFT JOIN n2 ON l1.vec_id = n2.v1)
            SELECT vec_id, lbl AS cluster FROM l2 ORDER BY vec_id"""))

  /** SemDeDup calibration curve (round-12): the embedding-space twin of
    * text_dedup_threshold_sweep — for each cosine threshold τ, how
    * many TRUE pairs exist (exact all-pairs cosine on the vec_id<200
    * audit slice, where the quadratic truth is computable) and how many
    * the within-centroid candidate rule finds. The fixture embeddings
    * are NOT dup-planted — the max pair cosine on the slice is 0.48 at
    * every SF (the vec_matryoshka_recall-style regime readout: this
    * corpus has no semantic near-dups) — so the sweep runs at
    * τ ∈ {0.30, 0.35, 0.40} where pairs exist; the geometry it measures
    * (how much of the τ-similarity mass straddles centroid boundaries)
    * is exactly the blind-spot curve a SemDeDup deployment reads at its
    * own operating τ. Candidates
    * are a subset of truth scored exactly, so precision is 1 by
    * construction; what the curve measures is the BLIND SPOT — pairs
    * straddling a centroid boundary, SemDeDup's documented trade — and
    * the recall the 8-centroid layout buys at each aggressiveness
    * setting, i.e. whether the vec_dup_clusters operating point (0.95)
    * is safe for this corpus. Every threshold test is EXACT INTEGER
    * (cosine in round-to-nearest ten-thousandths BIGINT vs integer τ·1e4
    * — a boundary pair cannot flip engines); the one division is the
    * final recall of identical integers, NULL-guarded for empty truth.
    *
    * 100-TB shape: truth stays on the capped audit slice by construction
    * (the production path is the candidate rule itself); the candidate
    * side is the equi-join-on-centroid shape that scales. */
  val vecDedupThresholdSweep = Q(
    "vec_dedup_threshold_sweep",
    (spark, sfDir) => {
      graft.functions.DotProduct.register(spark)
      val v = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 200)
        .select(col("vec_id"), dbl(col("embedding")).as("e"),
          norm(dbl(col("embedding"))).as("nrm"))
      def cbp(dot: org.apache.spark.sql.Column, n1: org.apache.spark.sql.Column,
          n2: org.apache.spark.sql.Column) =
        round(dot / (n1 * n2) * 10000, 0).cast("bigint")
      val taus = explode(array(lit(3000L), lit(3500L), lit(4000L))).as("tau_bp")
      val a = v.select(col("vec_id").as("v1"), col("e").as("e1"),
        col("nrm").as("m1"))
      val b = v.select(col("vec_id").as("v2"), col("e").as("e2"),
        col("nrm").as("m2"))
      val truth = a.join(broadcast(b), col("v1") < col("v2"))
        .select(cbp(expr("dot_native(e1, e2)"), col("m1"), col("m2")).as("c"))
        .select(taus, col("c"))
        .groupBy("tau_bp")
        .agg(sum(when(col("c") >= col("tau_bp"), 1L).otherwise(0L))
          .as("n_true"))
      val asg = semdedupAssigned(spark, sfDir)
      val ca = asg.select(col("cid"), col("vec_id").as("v1"),
        col("e").as("e1"), col("nrm").as("m1"))
      val cb = asg.select(col("cid").as("cid2"), col("vec_id").as("v2"),
        col("e").as("e2"), col("nrm").as("m2"))
      val cand = ca.join(cb, col("cid") === col("cid2") && col("v1") < col("v2"))
        .select(cbp(expr("dot_native(e1, e2)"), col("m1"), col("m2")).as("c"))
        .select(taus, col("c"))
        .groupBy("tau_bp")
        .agg(sum(when(col("c") >= col("tau_bp"), 1L).otherwise(0L))
          .as("n_found"))
      truth.join(cand, "tau_bp")
        .select(col("tau_bp"), col("n_true"), col("n_found"),
          (col("n_true") - col("n_found")).as("blind_spot"),
          when(col("n_true") === 0, lit(null).cast("double"))
            .otherwise(round(col("n_found").cast("double") / col("n_true"), 4))
            .as("recall"))
        .orderBy("tau_bp")
    },
    Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 200),
            t AS (SELECT CAST(unnest([3000, 3500, 4000]) AS BIGINT) AS tau_bp),
            truth AS (SELECT CAST(round(${oDot("a.e", "b.e")} /
                             (${oNorm("a.e")} * ${oNorm("b.e")}) * 10000)
                           AS BIGINT) AS c
                      FROM v a JOIN v b ON a.vec_id < b.vec_id),
            tt AS (SELECT tau_bp,
                     CAST(sum(CASE WHEN c >= tau_bp THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_true
                   FROM truth CROSS JOIN t GROUP BY tau_bp),
            cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
            asg AS (SELECT vec_id, cid FROM (
              SELECT v.vec_id, cent.cid,
                     row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       round(${oDot("v.e", "cent.c")} /
                             (${oNorm("v.e")} * ${oNorm("cent.c")}), 4) + 0.0 DESC,
                       cent.cid) AS rn
              FROM v CROSS JOIN cent) WHERE rn = 1),
            m AS (SELECT asg.vec_id, asg.cid, v.e FROM asg JOIN v USING (vec_id)),
            cand AS (SELECT CAST(round(${oDot("a.e", "b.e")} /
                            (${oNorm("a.e")} * ${oNorm("b.e")}) * 10000)
                          AS BIGINT) AS c
                     FROM m a JOIN m b
                       ON a.cid = b.cid AND a.vec_id < b.vec_id),
            cc AS (SELECT tau_bp,
                     CAST(sum(CASE WHEN c >= tau_bp THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_found
                   FROM cand CROSS JOIN t GROUP BY tau_bp)
            SELECT tt.tau_bp, n_true, n_found,
                   n_true - n_found AS blind_spot,
                   CASE WHEN n_true = 0 THEN NULL
                        ELSE round(CAST(n_found AS DOUBLE) / n_true, 4)
                   END AS recall
            FROM tt JOIN cc ON tt.tau_bp = cc.tau_bp
            ORDER BY tt.tau_bp"""))

  /** Nearest-centroid assignment — the exact coarse-quantizer step of an
    * IVF index (vec_ann_ivf's learned version, here with FIXED centroids =
    * the first 8 vectors so DuckDB can replay it value-for-value): every
    * other vector goes to its max-cosine centroid, rounded-4dp cosine with
    * centroid_id tiebreak so the argmax is total.
    *
    * 100-TB notes: K centroids broadcast to every executor; one linear
    * scan; the argmax is a per-vector window over K rows (partitioned by
    * vec_id — high cardinality, no skew). This is the partition-assignment
    * pass a billion-vector IVF build runs: no shuffle of the vectors at
    * all until the (tiny) assignment output. */
  val vecCentroidAssign = Q(
    "vec_centroid_assign",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), dbl(col("embedding")).as("ce"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("centroid_id"))
      emb.filter(col("vec_id") >= 8)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
        .crossJoin(broadcast(cents))
        // D.nz BEFORE the rank window, on both engines: a tiny-negative
        // cosine rounds to -0.0 in DuckDB vs +0.0 in Spark (sf5 sweep,
        // round-10) — repr divergence in the output AND, in principle, a
        // rank flip (Spark's double sort puts -0.0 < +0.0, DuckDB's
        // treats them equal), so normalize the value the window orders by
        .select(col("vec_id"), col("centroid_id"),
          graft.util.D.nz(round(expr("cosine_native(e, ce)"), 4))
            .as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("vec_id", "centroid_id", "cos_sim")
        .orderBy("vec_id")
    },
    Some(s"""SELECT vec_id, centroid_id, cos_sim FROM (
              SELECT v.vec_id, c.vec_id AS centroid_id,
                     round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                           (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) + 0.0 AS cos_sim,
                     row_number() OVER (PARTITION BY v.vec_id
                                        ORDER BY round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                                                       (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) + 0.0 DESC,
                                                 c.vec_id) AS rk
              FROM embeddings v CROSS JOIN embeddings c
              WHERE v.vec_id >= 8 AND c.vec_id < 8)
            WHERE rk = 1 ORDER BY vec_id"""))

  /** Scalar (int8) quantization with per-vector min/max calibration —
    * the storage-compression step before ANN indexing at scale: code =
    * floor((x−mn)/(mx−mn)·255), reported as the round-trip MSE in ppm.
    * (floor, not round: Spark rounds HALF_UP on the decimal repr while
    * DuckDB rounds the double bits, so round() at exact midpoints is the
    * one arithmetic op the two engines disagree on.) Pure per-row lambda
    * math — one scan, no shuffle, embarrassingly parallel. */
  val vecScalarQuantize = Q(
    "vec_scalar_quantize",
    (spark, sfDir) =>
      Tables.embeddings(spark, sfDir)
        .withColumn("e", dbl(col("embedding")))
        .withColumn("mn", array_min(col("e")))
        .withColumn("mx", array_max(col("e")))
        // mse computed while mn/mx are still RAW: a lambda's outer column
        // reference in the same select as a `round(mn).as("mn")` alias
        // resolves against the aliased (rounded) output, not the child —
        // verified on the physical plan, and an 8% mse shift at sf0.01
        // constant vector (mx == mn) round-trips exactly: the code for
        // every element is 0 and dequantize returns mn — guard it, the
        // unguarded (x-mn)/(mx-mn) is 0/0 = NaN (fixtures never hit the
        // case, but this is presented as the general quantization shape)
        .withColumn("mse_ppm",
          when(col("mx") === col("mn"), lit(0.0)).otherwise(
            round(
              aggregate(
                transform(col("e"), x =>
                  pow(x - (col("mn")
                    + floor((x - col("mn")) / (col("mx") - col("mn")) * 255.0)
                      * (col("mx") - col("mn")) / 255.0), lit(2.0))),
                lit(0.0), (acc, x) => acc + x)
                / size(col("e")).cast("double") * 1e6, 4)))
        // D.nz: embedding extrema are signed; a tiny-negative mn/mx must
        // not round to -0.0 on one engine only (the sf5-sweep class)
        .select(col("vec_id"), graft.util.D.nz(round(col("mn"), 4)).as("mn"),
          graft.util.D.nz(round(col("mx"), 4)).as("mx"), col("mse_ppm"))
        .orderBy("vec_id"),
    Some("""WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
            mm AS (
              SELECT vec_id, e, list_aggregate(e, 'min') AS mn,
                     list_aggregate(e, 'max') AS mx
              FROM v)
            SELECT vec_id, round(mn, 4) + 0.0 AS mn, round(mx, 4) + 0.0 AS mx,
                   CASE WHEN mx = mn THEN 0.0 ELSE
                     round(list_aggregate(list_transform(e, x ->
                       pow(x - (mn + floor((x - mn) / (mx - mn) * 255.0)
                         * (mx - mn) / 255.0), 2)), 'sum')
                       / len(e) * 1e6, 4) END AS mse_ppm
            FROM mm ORDER BY vec_id"""))

  /** One distributed Lloyd (k-means) refinement step, k = 8 seeded from
    * vec_id < 8: assign every vector to its nearest centroid by squared
    * L2 (broadcast centroid table, per-vector arg-min window), then emit
    * the updated centroids as (cluster, dim, mean) rows. The mean update
    * is a posexplode → (cluster, dim) hash agg — the classic map-side-
    * combinable shape, one shuffle of (k·d) partial sums per partition
    * regardless of corpus size. Long (cluster, dim) output rather than an
    * array column: the driver's compare hashes scalars only. */
  val vecKmeansStep = Q(
    "vec_kmeans_step",
    // fixed instantiation of the parameterized Ops.kmeansStep (round-5
    // verdict #4): k = 8, centroids seeded from vec_id < 8. The API
    // returns the raw per-(cluster, dim) mean; the 4-dp round + the
    // -0.0-canonicalizing +0.0 (see the oracle) stay presentation-side.
    (spark, sfDir) =>
      graft.ops.Ops.kmeansStep(Tables.embeddings(spark, sfDir),
          col("vec_id"), col("embedding"), k = 8)
        .select(col("cluster"), col("dim"), col("n_members"),
          (round(col("centroid_mean"), 4) + 0.0).as("centroid_val"))
        .orderBy("cluster", "dim"),
    Some("""WITH v AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings),
            cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
            dists AS (
              SELECT v.vec_id, cent.cid,
                     list_aggregate(list_transform(list_zip(v.e, cent.c),
                       p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d2
              FROM v CROSS JOIN cent),
            assign AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
              FROM dists),
            a AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
            el AS (
              SELECT a.cid, generate_subscripts(v.e, 1) AS dim, unnest(v.e) AS x
              FROM a JOIN v USING (vec_id))
            SELECT cid AS cluster, CAST(dim AS BIGINT) AS dim,
                   CAST(count(*) AS BIGINT) AS n_members,
                   round(avg(x), 4) + 0.0 AS centroid_val
            FROM el GROUP BY cid, dim ORDER BY cluster, dim"""))

  /** Pairwise-cosine distribution histogram over the capped pair set
    * (vec_id < 100) — the similarity-threshold calibration step before
    * picking a dedup cutoff: 0.1-wide bins over [-1, 1]. The cosine runs
    * through the codegen'd fused expression; floor-binning is bit-safe
    * because both engines compute the identical double first. All-pairs
    * is the exact (capped) baseline — the uncapped path samples pairs. */
  val vecCosineHistogram = Q(
    "vec_cosine_histogram",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val v = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") < 100)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
      v.select(col("vec_id").as("v1"), col("e").as("e1"))
        .join(v.select(col("vec_id").as("v2"), col("e").as("e2")),
          col("v1") < col("v2"))
        .select(floor((expr("cosine_native(e1, e2)") + 1.0) / 0.1)
          .cast("bigint").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .orderBy("bin")
    },
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings WHERE vec_id < 100),
            p AS (
              SELECT a.vec_id AS v1, b.vec_id AS v2,
                     list_aggregate(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]), 'sum')
                     / (sqrt(list_aggregate(list_transform(a.e, x -> x*x), 'sum'))
                        * sqrt(list_aggregate(list_transform(b.e, x -> x*x), 'sum'))) AS cos
              FROM v a JOIN v b ON a.vec_id < b.vec_id)
            SELECT CAST(floor((cos + 1.0) / 0.1) AS BIGINT) AS bin,
                   CAST(count(*) AS BIGINT) AS n
            FROM p GROUP BY bin ORDER BY bin"""))

  /** Per-dimension embedding statistics (min/max/mean/std) — the drift/
    * quality monitor a vector pipeline runs per batch: a collapsed or
    * exploded dimension shows up as degenerate std. Values are rounded to
    * 4dp THEN cast to exact decimal so the sums are associative (raw
    * double sums across partitions are not); the 4dp midpoint of an
    * arbitrary float is never exactly representable, so both engines
    * round identically. posexplode → (dim) hash agg: map-side combinable,
    * d partials per partition at any corpus size. */
  val vecDimStats = Q(
    "vec_dim_stats",
    (spark, sfDir) => {
      import org.apache.spark.sql.types.DecimalType
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select((col("pos") + 1).cast("bigint").as("dim"),
          round(col("col").cast("double"), 4).cast(DecimalType(9, 4)).as("x"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          min("x").cast("double").as("min_x"),
          max("x").cast("double").as("max_x"),
          (round(sum("x").cast("double") / count(lit(1)), 4) + 0.0)
            .as("mean_x"),
          round(sqrt(
            (sum(col("x") * col("x")).cast("double")
              - sum("x").cast("double") * sum("x").cast("double")
                / count(lit(1)))
              / (count(lit(1)) - 1)), 4).as("std_x"))
        .orderBy("dim")
    },
    Some("""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                              CAST(round(CAST(unnest(embedding) AS DOUBLE), 4)
                                   AS DECIMAL(9,4)) AS x
                       FROM embeddings)
            SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
                   CAST(min(x) AS DOUBLE) AS min_x, CAST(max(x) AS DOUBLE) AS max_x,
                   round(CAST(sum(x) AS DOUBLE) / count(*), 4) + 0.0 AS mean_x,
                   round(sqrt((CAST(sum(x * x) AS DOUBLE)
                               - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)
                                 / count(*))
                              / (count(*) - 1)), 4) AS std_x
            FROM e GROUP BY dim ORDER BY dim"""))

  /** Product quantization — the ANN compression path scalar quantization
    * can't reach: the 64-dim vector splits into M=4 contiguous 16-dim
    * subspaces, each encoded as the id of its nearest codeword (here the
    * deterministic seed codebook = sub-vectors of vec_id < 16, the same
    * seeding rule as vec_kmeans_step), giving a 4-byte code per vector
    * (64× smaller than float32) plus the reconstruction error.
    *
    * 100-TB shape: the codebook is tiny and BROADCAST (M·k codewords);
    * encoding is a per-row argmin over k codewords per subspace — one
    * scan, no data shuffle until the final per-vector regroup, distances
    * through the codegen'd `l2sq_native` (bit-identical to the zip_with
    * fold, NativeDotSpec). Sub-vector slices are equal-length by
    * construction, so the native min-length fold == the composed HOF.
    * pq_err sums the 4 subspace minima in FIXED order (conditional picks,
    * not an agg over arbitrary partition order) — IEEE addition is not
    * associative, the oracle adds in the same order. */
  val vecPqQuantize = Q(
    "vec_pq_quantize",
    // fixed instantiation of the parameterized Ops.pqQuantize (round-5
    // verdict #4): M=4 subspaces × 16 dims, 16-seed codebook. The in-plan
    // dim/seed guards live in Ops.pqDistances (ADVICE r5); rounding stays
    // here — the API returns the raw fixed-order error sum.
    (spark, sfDir) =>
      graft.ops.Ops.pqQuantize(Tables.embeddings(spark, sfDir),
          col("vec_id"), col("embedding"), m = 4, subDim = 16, numSeeds = 16)
        .select(col("vec_id"), col("code_0"), col("code_1"), col("code_2"),
          col("code_3"), round(col("pq_err"), 6).as("pq_err"))
        .orderBy("vec_id"),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
                 subs AS (SELECT vec_id, s.sub, v.e[(16*s.sub+1):(16*s.sub+16)] AS sv
                          FROM v, (SELECT unnest(generate_series(0,3)) AS sub) s),
                 seeds AS (SELECT vec_id AS seed, sub AS ssub, sv AS cw
                           FROM subs WHERE vec_id < 16),
                 dist AS (SELECT subs.vec_id, subs.sub, seeds.seed,
                                 list_aggregate(list_transform(list_zip(subs.sv, seeds.cw),
                                   p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d2
                          FROM subs JOIN seeds ON subs.sub = seeds.ssub),
                 best AS (SELECT vec_id, sub, seed, d2,
                                 row_number() OVER (PARTITION BY vec_id, sub
                                                    ORDER BY d2, seed) AS rn
                          FROM dist)
            SELECT vec_id,
                   CAST(max(CASE WHEN sub=0 THEN seed END) AS BIGINT) AS code_0,
                   CAST(max(CASE WHEN sub=1 THEN seed END) AS BIGINT) AS code_1,
                   CAST(max(CASE WHEN sub=2 THEN seed END) AS BIGINT) AS code_2,
                   CAST(max(CASE WHEN sub=3 THEN seed END) AS BIGINT) AS code_3,
                   round(max(CASE WHEN sub=0 THEN d2 END) + max(CASE WHEN sub=1 THEN d2 END)
                       + max(CASE WHEN sub=2 THEN d2 END) + max(CASE WHEN sub=3 THEN d2 END), 6) AS pq_err
            FROM best WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""))

  /** PQ search via asymmetric distance computation (ADC) — how PQ codes
    * are actually queried: the query vector (vec_id 0) precomputes a
    * 4×16 lookup table of subspace distances to every codeword, and each
    * candidate's approximate distance is the FIXED-ORDER sum of 4 LUT
    * entries selected by its codes. ADC distance ≡ the exact squared L2
    * between the query and the candidate's PQ RECONSTRUCTION (pinned in
    * Round5OpsSpec), so accuracy is exactly the quantization error.
    *
    * 100-TB shape: the LUT is M·k doubles (tiny, broadcast); per
    * candidate the scan does 4 lookups + 3 adds — no vector arithmetic
    * at query time, which is the entire point of PQ search. Top-k cut is
    * total (unrounded identical-bits distance, vec_id tiebreak). */
  val vecPqAdcTopk = Q(
    "vec_pq_adc_topk",
    // fixed instantiation of the parameterized Ops.pqAdcTopK (round-5
    // verdict #4): query vec_id 0, top-10, M=4 × 16 dims, 16 seeds.
    (spark, sfDir) =>
      graft.ops.Ops.pqAdcTopK(Tables.embeddings(spark, sfDir),
          col("vec_id"), col("embedding"), queryId = 0, k = 10,
          m = 4, subDim = 16, numSeeds = 16)
        .orderBy(col("adc_raw"), col("vec_id"))
        .select(col("vec_id"), round(col("adc_raw"), 6).as("adc_d2")),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
                 subs AS (SELECT vec_id, s.sub, v.e[(16*s.sub+1):(16*s.sub+16)] AS sv
                          FROM v, (SELECT unnest(generate_series(0,3)) AS sub) s),
                 seeds AS (SELECT vec_id AS seed, sub AS ssub, sv AS cw
                           FROM subs WHERE vec_id < 16),
                 dist AS (SELECT subs.vec_id, subs.sub, seeds.seed,
                                 list_aggregate(list_transform(list_zip(subs.sv, seeds.cw),
                                   p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d2
                          FROM subs JOIN seeds ON subs.sub = seeds.ssub),
                 best AS (SELECT vec_id, sub, seed AS code, d2,
                                 row_number() OVER (PARTITION BY vec_id, sub
                                                    ORDER BY d2, seed) AS rn
                          FROM dist),
                 lut AS (SELECT sub, seed, d2 AS qd2 FROM dist WHERE vec_id = 0),
                 adc AS (SELECT b.vec_id,
                                max(CASE WHEN b.sub=0 THEN l.qd2 END) + max(CASE WHEN b.sub=1 THEN l.qd2 END)
                              + max(CASE WHEN b.sub=2 THEN l.qd2 END) + max(CASE WHEN b.sub=3 THEN l.qd2 END) AS adc_raw
                         FROM best b JOIN lut l ON b.sub = l.sub AND b.code = l.seed
                         WHERE b.rn = 1 AND b.vec_id != 0
                         GROUP BY b.vec_id)
            SELECT vec_id, round(adc_raw, 6) AS adc_d2
            FROM adc ORDER BY adc.adc_raw, vec_id LIMIT 10"""))

  /** SemDeDup-style semantic dedup census — the composition round 5
    * asked for (verdict #8): kmeans-style cluster assignment (k = 8
    * seeded centroids, the vec_kmeans_step rule) bounds the quadratic,
    * per-cluster cosine near-dup flags (threshold 0.2, higher vec_id of
    * a similar pair is the duplicate — the keep-lowest rule every dedup
    * op here uses), then the per-cluster survivor census. The vec_id <
    * 500 cap is the graded instantiation of Ops.semanticDedupCensus —
    * within-cluster all-pairs is SemDeDup's real algorithm, bounded by
    * cluster granularity (production picks k ∝ n; the cap plays that
    * role at fixture scale). Cosines are bit-identical across engines
    * (codegen'd cosine_native ≡ the HOF fold ≡ the oracle's
    * list_aggregate, NativeDotSpec), so the ≥-threshold flag cannot
    * flip between Spark and DuckDB. */
  val vecSemanticDedup = Q(
    "vec_semantic_dedup",
    (spark, sfDir) =>
      graft.ops.Ops.semanticDedupCensus(
          Tables.embeddings(spark, sfDir).filter(col("vec_id") < 500),
          col("vec_id"), col("embedding"), k = 8, simThreshold = 0.2)
        .orderBy("cluster"),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings WHERE vec_id < 500),
                 cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
                 dists AS (SELECT v.vec_id, cent.cid,
                                  list_aggregate(list_transform(list_zip(v.e, cent.c),
                                    p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d2
                           FROM v CROSS JOIN cent),
                 assign AS (SELECT vec_id, cid,
                                   row_number() OVER (PARTITION BY vec_id
                                                      ORDER BY d2, cid) AS rn
                            FROM dists),
                 a AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
                 m AS (SELECT a.vec_id, a.cid, v.e FROM a JOIN v USING (vec_id)),
                 dups AS (SELECT DISTINCT y.vec_id
                          FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
                          WHERE list_aggregate(list_transform(list_zip(x.e, y.e),
                                  p -> p[1]*p[2]), 'sum')
                                / (sqrt(list_aggregate(list_transform(x.e, t -> t*t), 'sum'))
                                   * sqrt(list_aggregate(list_transform(y.e, t -> t*t), 'sum')))
                                >= 0.2),
                 c AS (SELECT a.cid, count(*) AS n_members,
                              count(d.vec_id) AS n_dups
                       FROM a LEFT JOIN dups d USING (vec_id)
                       GROUP BY a.cid)
            SELECT CAST(cid AS BIGINT) AS cluster,
                   CAST(n_members AS BIGINT) AS n_members,
                   CAST(n_dups AS BIGINT) AS n_dups,
                   CAST(n_members - n_dups AS BIGINT) AS n_survivors
            FROM c ORDER BY cluster"""))

  /** The composed ANN serving stack — IVF probe restriction → PQ-ADC
    * coarse rank → exact cosine re-rank — as ONE oracle-exact query
    * (Ops.ivfPqRerank; round-7 addition). The round-7 clustered-recall
    * measurement (BASELINE.md) showed the pieces' roles: IVF probing is
    * the recall mechanism, PQ alone cannot rank within-cluster near-ties,
    * and the exact re-rank of a small shortlist erases that limit — this
    * query grades the composition end-to-end. Seeded centroids (vec_id <
    * 8, the kmeans_step rule) keep it deterministic and DuckDB-expressible
    * where the KMeans-fitted vec_ann_ivf cannot be; every distance runs
    * through the codegen'd l2sq/cosine natives (bit-identical to the
    * oracle's folds, NativeDotSpec), and every cut is total-ordered
    * (unrounded key + vec_id tiebreak). */
  val vecIvfPqRerank = Q(
    "vec_ivf_pq_rerank",
    (spark, sfDir) =>
      graft.ops.Ops.ivfPqRerank(Tables.embeddings(spark, sfDir),
          col("vec_id"), col("embedding"), queryId = 0L,
          kCent = 8, nProbes = 3, m = 4, subDim = 16, numSeeds = 16,
          shortlist = 50, k = 10)
        .orderBy(col("cos_sim").desc, col("vec_id")),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
                 cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
                 q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
                 probes AS (SELECT cid FROM (
                              SELECT cid, row_number() OVER (ORDER BY
                                list_aggregate(list_transform(list_zip(c, qe),
                                  p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cid) AS rn
                              FROM cent CROSS JOIN q)
                            WHERE rn <= 3),
                 assign AS (SELECT vec_id, cid FROM (
                              SELECT v.vec_id, cent.cid,
                                     row_number() OVER (PARTITION BY v.vec_id ORDER BY
                                       list_aggregate(list_transform(list_zip(v.e, cent.c),
                                         p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cent.cid) AS rn
                              FROM v CROSS JOIN cent)
                            WHERE rn = 1),
                 cand AS (SELECT vec_id FROM assign
                          WHERE cid IN (SELECT cid FROM probes) AND vec_id != 0),
                 subs AS (SELECT vec_id, s.sub, v.e[(16*s.sub+1):(16*s.sub+16)] AS sv
                          FROM v, (SELECT unnest(generate_series(0,3)) AS sub) s),
                 seeds AS (SELECT vec_id AS seed, sub AS ssub, sv AS cw
                           FROM subs WHERE vec_id < 16),
                 dist AS (SELECT subs.vec_id, subs.sub, seeds.seed,
                                 list_aggregate(list_transform(list_zip(subs.sv, seeds.cw),
                                   p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS d2
                          FROM subs JOIN seeds ON subs.sub = seeds.ssub),
                 best AS (SELECT vec_id, sub, seed, d2,
                                 row_number() OVER (PARTITION BY vec_id, sub
                                                    ORDER BY d2, seed) AS rn
                          FROM dist
                          WHERE vec_id IN (SELECT vec_id FROM cand)),
                 lut AS (SELECT sub AS lsub, seed AS lseed, d2 AS qd2
                         FROM dist WHERE vec_id = 0),
                 adc AS (SELECT b.vec_id,
                                max(CASE WHEN b.sub=0 THEN l.qd2 END) + max(CASE WHEN b.sub=1 THEN l.qd2 END)
                              + max(CASE WHEN b.sub=2 THEN l.qd2 END) + max(CASE WHEN b.sub=3 THEN l.qd2 END) AS adc_raw
                         FROM best b JOIN lut l ON b.sub = l.lsub AND b.seed = l.lseed
                         WHERE b.rn = 1
                         GROUP BY b.vec_id),
                 short AS (SELECT vec_id, adc_raw FROM adc
                           ORDER BY adc_raw, vec_id LIMIT 50),
                 rerank AS (SELECT s.vec_id, s.adc_raw,
                                   list_aggregate(list_transform(list_zip(v.e, q.qe),
                                     p -> p[1]*p[2]), 'sum')
                                   / (sqrt(list_aggregate(list_transform(v.e, t -> t*t), 'sum'))
                                      * sqrt(list_aggregate(list_transform(q.qe, t -> t*t), 'sum'))) AS cos_raw
                            FROM short s JOIN v ON s.vec_id = v.vec_id
                            CROSS JOIN q)
            SELECT vec_id, round(adc_raw, 6) AS adc_d2, round(cos_raw, 4) AS cos_sim
            FROM rerank ORDER BY cos_raw DESC, vec_id LIMIT 10"""))

  /** Residual-PQ top-k (IVF-PQ on residuals, Jégou et al. 2011 §IV;
    * round-7 verdict stretch #7): PQ codes encode `e − centroid` instead
    * of the raw vector, so the codebook budget resolves within-cluster
    * displacement — the exact failure mode round 7 measured for plain PQ
    * (1–3/10 recall on clustered near-ties). Each probed cluster gets its
    * own query LUT from `q − c_cid`; a candidate's ADC distance sums LUT
    * entries keyed by (its cluster, subspace, code) in FIXED order.
    * Seeded centroids and a seeded residual codebook (the kmeans_step
    * rule) keep it deterministic and DuckDB-expressible; distances run
    * through the codegen'd `l2sq_native` (≡ the oracle's list_aggregate
    * fold, NativeDotSpec), residuals are elementwise double subtraction
    * (exact-rounded, identical operands ⇒ identical bits on both
    * engines), and the cut is total (unrounded adc, vec_id tiebreak). */
  val vecResidualPqTopk = Q(
    "vec_residual_pq_topk",
    (spark, sfDir) =>
      graft.ops.Ops.ivfResidualPqTopK(Tables.embeddings(spark, sfDir),
          col("vec_id"), col("embedding"), queryId = 0L,
          kCent = 8, nProbes = 3, k = 10, m = 4, subDim = 16, numSeeds = 16)
        .orderBy(col("adc_raw"), col("vec_id"))
        .select(col("vec_id"), col("cid").cast("bigint").as("cluster"),
          round(col("adc_raw"), 6).as("adc_d2")),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
                 cent AS (SELECT vec_id AS cid, e AS c FROM v WHERE vec_id < 8),
                 q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
                 assign AS (SELECT vec_id, cid FROM (
                              SELECT v.vec_id, cent.cid,
                                     row_number() OVER (PARTITION BY v.vec_id ORDER BY
                                       list_aggregate(list_transform(list_zip(v.e, cent.c),
                                         p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cent.cid) AS rn
                              FROM v CROSS JOIN cent)
                            WHERE rn = 1),
                 resid AS (SELECT a.vec_id, a.cid,
                                  list_transform(list_zip(v.e, cent.c),
                                    p -> p[1]-p[2]) AS r
                           FROM assign a JOIN v USING (vec_id)
                           JOIN cent ON a.cid = cent.cid),
                 rsubs AS (SELECT vec_id, cid, s.sub,
                                  r[(16*s.sub+1):(16*s.sub+16)] AS sv
                           FROM resid, (SELECT unnest(generate_series(0,3)) AS sub) s),
                 seeds AS (SELECT sub AS ssub, vec_id AS seed, sv AS cw
                           FROM rsubs WHERE vec_id < 16),
                 codes AS (SELECT vec_id, cid, sub, seed AS code FROM (
                             SELECT r.vec_id, r.cid, r.sub, s.seed,
                                    row_number() OVER (PARTITION BY r.vec_id, r.sub
                                                       ORDER BY
                                      list_aggregate(list_transform(list_zip(r.sv, s.cw),
                                        p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), s.seed) AS rn
                             FROM rsubs r JOIN seeds s ON r.sub = s.ssub)
                           WHERE rn = 1),
                 probes AS (SELECT cid, c FROM (
                              SELECT cent.cid, cent.c, row_number() OVER (ORDER BY
                                list_aggregate(list_transform(list_zip(cent.c, q.qe),
                                  p -> (p[1]-p[2])*(p[1]-p[2])), 'sum'), cent.cid) AS rn
                              FROM cent CROSS JOIN q)
                            WHERE rn <= 3),
                 qres AS (SELECT p.cid AS lcid, s.sub AS lsub,
                                 list_transform(list_zip(q.qe, p.c),
                                   x -> x[1]-x[2])[(16*s.sub+1):(16*s.sub+16)] AS qs
                          FROM probes p CROSS JOIN q,
                               (SELECT unnest(generate_series(0,3)) AS sub) s),
                 lut AS (SELECT qr.lcid, qr.lsub, s.seed AS lseed,
                                list_aggregate(list_transform(list_zip(qr.qs, s.cw),
                                  p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS qd2
                         FROM qres qr JOIN seeds s ON qr.lsub = s.ssub),
                 adc AS (SELECT c.vec_id, c.cid,
                                max(CASE WHEN c.sub=0 THEN l.qd2 END) + max(CASE WHEN c.sub=1 THEN l.qd2 END)
                              + max(CASE WHEN c.sub=2 THEN l.qd2 END) + max(CASE WHEN c.sub=3 THEN l.qd2 END) AS adc_raw
                         FROM codes c JOIN lut l
                           ON c.cid = l.lcid AND c.sub = l.lsub AND c.code = l.lseed
                         WHERE c.vec_id != 0
                         GROUP BY c.vec_id, c.cid)
            SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
                   round(adc_raw, 6) AS adc_d2
            FROM adc ORDER BY adc_raw, vec_id LIMIT 10"""))

  /** Matryoshka-style prefix retrieval (round-8 addition): coarse-rank
    * the corpus by cosine over the FIRST 32 dims only (the "truncated
    * embedding" an MRL-trained model makes meaningful — Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS 2022; public method,
    * re-derived), shortlist 50, then exact full-64-dim cosine re-ranks
    * the shortlist to top-10 — the third coarse→refine serving stack in
    * the tier beside IVF+PQ and residual-PQ, with a different coarse
    * stage: dimension truncation costs 2× less arithmetic per candidate
    * with NO index build at all. The coarse dim was re-pointed 16 → 32
    * in round-12 (VERDICT-r11 #8) on vec_matryoshka_recall's OWN graded
    * readout — prefix-16 recall@10 measured 0.1 on these (non-MRL)
    * fixtures vs 0.3 at prefix-32 — and AnnRecallSpec pins the COMPOSED
    * operator's end-to-end recall vs the exact full-dim top-10, so the
    * quality claim cites the graded curve.
    *
    * 100-TB shape: query prefix/full vectors broadcast (1 row); the
    * corpus pass is one linear scan computing a 32-dim fused cosine;
    * both cuts are TakeOrdered with unrounded keys + vec_id tiebreaks
    * (total order); the exact re-rank touches 50 rows. Prefix slices are
    * equal-length by construction, distances through the codegen'd
    * `cosine_native` ≡ the oracle's list folds (NativeDotSpec). */
  val vecPrefixRerank = Q(
    "vec_prefix_rerank",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val v = emb.select(col("vec_id"), dbl(col("embedding")).as("e"),
        slice(dbl(col("embedding")), 1, 32).as("p"))
      val q = v.filter(col("vec_id") === 0)
        .select(col("e").as("qe"), col("p").as("qp"))
      val short = v.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("e"), col("qe"),
          expr("cosine_native(p, qp)").as("pcos_raw"))
        .orderBy(col("pcos_raw").desc, col("vec_id"))
        .limit(50)
      short
        .select(col("vec_id"), col("pcos_raw"),
          expr("cosine_native(e, qe)").as("cos_raw"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), round(col("pcos_raw"), 4).as("prefix_cos"),
          round(col("cos_raw"), 4).as("cos_sim"))
    },
    Some(s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                               (embedding::DOUBLE[])[1:32] AS p
                        FROM embeddings),
                 q AS (SELECT e AS qe, p AS qp FROM v WHERE vec_id = 0),
                 short AS (SELECT v.vec_id, v.e, q.qe,
                                  ${oDot("v.p", "q.qp")} /
                                  (${oNorm("v.p")} * ${oNorm("q.qp")}) AS pcos_raw
                           FROM v CROSS JOIN q
                           WHERE vec_id != 0
                           ORDER BY pcos_raw DESC, vec_id LIMIT 50),
                 rr AS (SELECT vec_id, pcos_raw,
                               ${oDot("e", "qe")} /
                               (${oNorm("e")} * ${oNorm("qe")}) AS cos_raw
                        FROM short)
            SELECT vec_id, round(pcos_raw, 4) AS prefix_cos,
                   round(cos_raw, 4) AS cos_sim
            FROM rr ORDER BY cos_raw DESC, vec_id LIMIT 10"""))

  /** Max-inner-product top-k (round-9) — the retrieval metric of
    * dot-product-trained embedding models (unnormalized two-tower /
    * DSSM-style scores): exact inner product of every vector against the
    * broadcast query, TakeOrdered cut on (rounded ip DESC, vec_id).
    * Distinct from cosine: no norm division, so high-magnitude vectors
    * legitimately outrank nearer-angle ones — the property MIPS indexes
    * exist to preserve. Same 1-vs-all shape as vec_cosine_topk: linear
    * scan, per-partition heap, no global sort — any-corpus scalable. */
  val vecMipsTopk = Q(
    "vec_mips_topk",
    (spark, sfDir) => {
      // dot_native is bit-identical to the V.dot fold (NativeDotSpec), so
      // the corpus scan runs codegen'd without changing a single value.
      graft.functions.DotProduct.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val q = emb.filter(col("vec_id") === 1)
        .select(dbl(col("embedding")).as("graft_qe"))
      emb.filter(col("vec_id") =!= 1)
        .select(col("vec_id"), dbl(col("embedding")).as("graft_e"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("dot_native(graft_e, graft_qe)"), 4).as("ip"))
        .orderBy(col("ip").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH qv AS (SELECT embedding::DOUBLE[] AS qe
                         FROM embeddings WHERE vec_id = 1)
            SELECT vec_id,
                   round(${oDot("embedding::DOUBLE[]", "(SELECT qe FROM qv)")}, 4) AS ip
            FROM embeddings WHERE vec_id != 1
            ORDER BY ip DESC, vec_id LIMIT 10"""))

  /** 1-bit (sign) quantization retrieval (round-9) — the cheapest
    * binary-embedding serving shape (64 dims → 64 bits/vector, 32×
    * smaller than float32): Hamming distance between sign patterns is an
    * INTEGER (zero float risk in the shortlist), the top-30 Hamming
    * shortlist cut is total-ordered (hamming, vec_id), and the exact
    * cosine re-rank touches only the shortlist — the
    * coarse-filter/exact-rerank composition every production binary
    * index uses. Sign bits of float and double agree (the cast is
    * exact), so quantization commutes with the double-cast policy. */
  val vecSignHammingTopk = Q(
    "vec_sign_hamming_topk",
    (spark, sfDir) => {
      // hamming_sign_native: codegen'd one-pass sign-mismatch count —
      // integer-identical to the zip_with/filter/size composition
      // (NativeDotSpec pins it) but inside whole-stage codegen, where the
      // interpreted HOF chain was the corpus scan's per-row cost.
      graft.functions.HammingSign.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val q = emb.filter(col("vec_id") === 0)
        .select(dbl(col("embedding")).as("graft_qe"),
          norm(dbl(col("embedding"))).as("graft_qn"))
      emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dbl(col("embedding")).as("graft_e"),
          norm(dbl(col("embedding"))).as("graft_en"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("graft_e"), col("graft_qe"),
          col("graft_en"), col("graft_qn"),
          expr("hamming_sign_native(graft_e, graft_qe)").as("hamming"))
        .orderBy(col("hamming"), col("vec_id"))
        .limit(30)
        .select(col("vec_id"), col("hamming"),
          graft.util.D.nz(round(dot(col("graft_e"), col("graft_qe"))
            / (col("graft_en") * col("graft_qn")), 4)).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH qv AS (SELECT embedding::DOUBLE[] AS qe,
                                ${oNorm("embedding::DOUBLE[]")} AS qn
                         FROM embeddings WHERE vec_id = 0),
                 h AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                              ${oNorm("embedding::DOUBLE[]")} AS en,
                              CAST(len(list_filter(
                                list_zip(embedding::DOUBLE[],
                                         (SELECT qe FROM qv)),
                                p -> (p[1] >= 0) != (p[2] >= 0))) AS BIGINT)
                                AS hamming
                       FROM embeddings WHERE vec_id != 0),
                 s AS (SELECT * FROM h ORDER BY hamming, vec_id LIMIT 30)
            SELECT vec_id, hamming,
                   round(${oDot("e", "(SELECT qe FROM qv)")} /
                         (en * (SELECT qn FROM qv)), 4) + 0.0 AS cos_sim
            FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10"""))

  /** One distributed power-iteration step toward the top principal
    * direction (round-9): v₁ = Gᵀ(G v₀) for the corpus Gram matrix G with
    * the basis seed v₀ = ê₁, i.e. v₁[d] = Σ_i e_i[d]·e_i[1] — the first
    * column of the uncentered covariance, computed WITHOUT materializing
    * any matrix: posexplode to (dim, x), one hash agg on dim. The
    * spectral-analysis building block (PCA/whitening pipelines iterate
    * exactly this map-reduce step).
    *
    * Determinism: per-element contributions are leaf-quantized to exact
    * BIGINT micro-units (the text-tier recipe — double sums over a
    * corpus are partial-order-dependent); the norm runs in exact DECIMAL
    * over the finished per-dim integers (19-digit operands: DuckDB
    * multiplies DECIMAL(≤18) in int64 and overflowed at sf5 — 19 digits
    * select its int128 path; overflow → loud error/null,
    * never a silent wrong answer), and the final normalize is double
    * arithmetic over identical operands.
    *
    * 100-TB shape: ONE linear pass + a dim-keyed agg (64 groups), then
    * a 64-row norm reduce — the classic distributed matvec. */
  val vecPowerIter = Q(
    "vec_power_iter",
    (spark, sfDir) => {
      import org.apache.spark.sql.types.DecimalType
      val perDim = Tables.embeddings(spark, sfDir)
        .withColumn("e", dbl(col("embedding")))
        .select(posexplode(col("e")).as(Seq("pos", "x")),
          element_at(col("e"), 1).as("e1"))
        .select((col("pos") + 1).cast("bigint").as("dim"),
          round(col("x") * col("e1") * lit(1e6), 0)
            .cast("bigint").as("micro"))
        .groupBy("dim")
        .agg(sum(col("micro")).as("s_micro"), count(lit(1)).as("n"))
      val nrm = perDim
        // width 19 (not 14): DuckDB multiplies DECIMAL(<=18) operands in
        // int64 and overflows at sf5's |s_micro| ~ 1.6e9 squared; 19 digits
        // force its int128 path, and Spark's (19,0)x(19,0) product caps at
        // the same exact (38,0)
        .agg(D.dbl(sum((col("s_micro").cast(DecimalType(19, 0))
            * col("s_micro").cast(DecimalType(19, 0))).cast(DecimalType(38, 0))))
          .as("ss"))
        .select(sqrt(col("ss")).as("nrm"))
      perDim.crossJoin(broadcast(nrm))
        .select(col("dim"), col("n"), col("s_micro"),
          (col("s_micro").cast("double") / col("nrm")).as("comp"))
        .orderBy("dim")
    },
    Some("""WITH per AS (
              SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
                     CAST(sum(micro) AS BIGINT) AS s_micro
              FROM (SELECT generate_subscripts(embedding, 1) AS dim,
                           CAST(round(CAST(unnest(embedding) AS DOUBLE)
                                 * CAST(embedding[1] AS DOUBLE) * 1e6, 0)
                                AS BIGINT) AS micro
                    FROM embeddings)
              GROUP BY dim),
            nrm AS (SELECT sqrt(CAST(sum(CAST(s_micro AS DECIMAL(19,0))
                                         * CAST(s_micro AS DECIMAL(19,0)))
                                     AS DOUBLE)) AS nrm
                    FROM per)
            SELECT dim, n, s_micro,
                   CAST(s_micro AS DOUBLE) / nrm AS comp
            FROM per CROSS JOIN nrm ORDER BY dim"""))

  /** Int8 symmetric-quantized dot-product retrieval (round-9) — the
    * integer-SIMD serving shape (4× smaller than float32, exact integer
    * arithmetic in the scan): corpus-global scale s = max |x|, codes
    * q = round(x/s·127), candidate score = EXACT INTEGER dot (BIGINT —
    * zero float risk in the shortlist, the same determinism class as
    * vec_sign_hamming_topk's Hamming counts), total-ordered top-30
    * shortlist, exact cosine re-rank over the shortlist only. */
  val vecInt8DotTopk = Q(
    "vec_int8_dot_topk",
    (spark, sfDir) => {
      // codes are exact small integers CARRIED AS DOUBLES (|q| <= 127, so
      // every value and every partial dot is binary-exact): the corpus
      // scan then runs through the codegen'd dot_native kernel instead of
      // an interpreted zip_with lambda, and the final BIGINT cast loses
      // nothing (|dot| <= 64 * 127^2 << 2^53). The coded frame is the
      // MEMOIZED index (Ops.int8Codes): reps/queries reuse one build.
      graft.functions.DotProduct.register(spark)
      val coded = graft.ops.Ops.int8Codes(
        Tables.embeddings(spark, sfDir), col("vec_id"), col("embedding"))
      val qv = coded.filter(col("vec_id") === 2)
        .select(col("q").as("graft_qq"), col("e").as("graft_qe"),
          norm(col("e")).as("graft_qn"))
      coded.filter(col("vec_id") =!= 2)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("e"), col("graft_qe"), col("graft_qn"),
          expr("dot_native(q, graft_qq)").cast("bigint").as("qdot"))
        .orderBy(col("qdot").desc, col("vec_id"))
        .limit(30)
        .select(col("vec_id"), col("qdot"),
          round(dot(col("e"), col("graft_qe"))
            / (norm(col("e")) * col("graft_qn")), 4).as("cos_sim"))
        .orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
    },
    // DuckDB lambdas cannot contain subqueries — the scale and query
    // vector enter via CROSS JOIN columns instead.
    Some(s"""WITH sc AS (SELECT max(greatest(
                           abs(list_aggregate(list_transform(embedding,
                             x -> CAST(x AS DOUBLE)), 'min')),
                           abs(list_aggregate(list_transform(embedding,
                             x -> CAST(x AS DOUBLE)), 'max')))) AS s
                         FROM embeddings),
                 coded AS (SELECT vec_id,
                                  list_transform(embedding,
                                    x -> CAST(x AS DOUBLE)) AS e,
                                  list_transform(embedding,
                                    x -> CAST(round(CAST(x AS DOUBLE)
                                      / s * 127.0, 0) AS BIGINT)) AS q
                           FROM embeddings CROSS JOIN sc),
                 qv AS (SELECT q AS qq, e AS qe, ${oNorm("e")} AS qn
                        FROM coded WHERE vec_id = 2),
                 sl AS (SELECT vec_id, e, qdot FROM (
                          SELECT c.vec_id, c.e,
                                 list_aggregate(list_transform(
                                   list_zip(c.q, qv.qq),
                                   p -> p[1] * p[2]), 'sum') AS qdot
                          FROM coded c CROSS JOIN qv WHERE c.vec_id != 2)
                        ORDER BY qdot DESC, vec_id LIMIT 30)
            SELECT sl.vec_id, CAST(sl.qdot AS BIGINT) AS qdot,
                   round(${oDot("sl.e", "qv.qe")} /
                         (${oNorm("sl.e")} * qv.qn), 4) AS cos_sim
            FROM sl CROSS JOIN qv
            ORDER BY cos_sim DESC, sl.vec_id LIMIT 10"""))

  /** Per-cluster census over the fixed-centroid assignment (round-9) —
    * the index-health report run after every (re)clustering at scale:
    * cluster sizes, mean and worst member similarity to the centroid.
    * Assignment is vec_centroid_assign's exact rule (rounded cosine,
    * centroid-id tiebreak); per-member similarities enter the census as
    * exact 1e-4-grid INTEGERS (round(cos·1e4) BIGINT — summing the
    * rounded doubles would resonate with downstream rounding boundaries,
    * the text-tier micro-int lesson), so size/mean/min are all
    * order-free. Empty clusters are absent by construction (the census
    * reports occupied cells; a production health check LEFT JOINs the
    * centroid list to surface them — here centroids are the first 8 ids
    * and every fixture cell is occupied, pinned by the spec).
    *
    * 100-TB shape: broadcast centroids, one linear scan, one k-group
    * agg. */
  val vecClusterStats = Q(
    "vec_cluster_stats",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val cents = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), dbl(col("embedding")).as("ce"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("centroid_id"))
      emb.filter(col("vec_id") >= 8)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
        .crossJoin(broadcast(cents))
        .select(col("vec_id"), col("centroid_id"),
          round(expr("cosine_native(e, ce)"), 4).as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("centroid_id"),
          round(col("cos_sim") * lit(1e4), 0).cast("bigint").as("c4"))
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n"),
          (sum(col("c4")).cast("double")
            / (count(lit(1)).cast("double") * lit(1e4))).as("mean_cos"),
          (min(col("c4")).cast("double") / lit(1e4)).as("min_cos"))
        .orderBy("centroid_id")
    },
    Some(s"""WITH assign AS (
              SELECT centroid_id, CAST(round(cos_sim * 1e4, 0) AS BIGINT) AS c4
              FROM (SELECT v.vec_id, c.vec_id AS centroid_id,
                           round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                                 (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) AS cos_sim,
                           row_number() OVER (PARTITION BY v.vec_id
                                              ORDER BY round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                                                             (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) DESC,
                                                       c.vec_id) AS rk
                    FROM embeddings v CROSS JOIN embeddings c
                    WHERE v.vec_id >= 8 AND c.vec_id < 8)
              WHERE rk = 1)
            SELECT centroid_id, count(*) AS n,
                   CAST(sum(c4) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e4)
                     AS mean_cos,
                   CAST(min(c4) AS DOUBLE) / 1e4 AS min_cos
            FROM assign GROUP BY centroid_id ORDER BY centroid_id"""))

  /** Hard-negative mining (round-9) — the contrastive-training data prep
    * step: for each anchor (vec_id < 10), the most-similar vector with a
    * DIFFERENT label — the "hardest" negative a triplet/InfoNCE loss can
    * be fed. The 10-row anchor frame is broadcast; the corpus is scanned
    * once (batched-queries retrieval: cost = corpus x anchors, anchors
    * bounded); the label-mismatch predicate rides the broadcast join;
    * the per-anchor cut is the usual total order (rounded cos DESC,
    * vec_id). Labels ship with the fixture's embeddings table.
    *
    * 100-TB note: production mines against an ANN shortlist instead of
    * the exact scan — compose vec_ann_ivf's probe set with this
    * label-mismatch rerank; the exact form here IS the recall oracle
    * for that composition. */
  val vecHardNegatives = Q(
    "vec_hard_negatives",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val anchors = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
          dbl(col("embedding")).as("ae"))
      val w = Window.partitionBy("anchor_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))
      emb.select(col("vec_id"), col("label"), dbl(col("embedding")).as("e"))
        .crossJoin(broadcast(anchors))
        .filter(col("label") =!= col("anchor_label"))
        .select(col("anchor_id"), col("anchor_label"), col("vec_id"),
          col("label"),
          graft.util.D.nz(round(expr("cosine_native(e, ae)"), 4))
            .as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("anchor_id"), col("anchor_label"),
          col("vec_id").as("negative_id"), col("label").as("negative_label"),
          col("cos_sim"))
        .orderBy("anchor_id")
    },
    Some(s"""SELECT anchor_id, anchor_label, negative_id, negative_label, cos_sim
            FROM (SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
                         v.vec_id AS negative_id, v.label AS negative_label,
                         round(${oDot("v.embedding::DOUBLE[]", "a.embedding::DOUBLE[]")} /
                               (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("a.embedding::DOUBLE[]")}), 4) + 0.0 AS cos_sim,
                         row_number() OVER (PARTITION BY a.vec_id
                           ORDER BY round(${oDot("v.embedding::DOUBLE[]", "a.embedding::DOUBLE[]")} /
                                          (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("a.embedding::DOUBLE[]")}), 4) + 0.0 DESC,
                                    v.vec_id) AS rk
                  FROM embeddings v CROSS JOIN embeddings a
                  WHERE a.vec_id < 10 AND v.label != a.label)
            WHERE rk = 1 ORDER BY anchor_id"""))

  /** Out-of-distribution scoring vs the corpus centroid (round-9) — the
    * embedding-space outlier filter of data curation (drop or down-weight
    * vectors far from the corpus mass): ood = 1 − cos(v, μ) with μ the
    * EXACT corpus mean, computed per dim as a BIGINT micro-unit sum
    * (the vec_power_iter recipe — double sums over a corpus are
    * partial-order-dependent) divided once; the 64-dim μ is a broadcast
    * 64-row frame pivoted back to an array via sort-collect (bounded,
    * deterministic). Output: the 10 most-OOD vectors, total-ordered
    * (rounded ood DESC, vec_id).
    *
    * 100-TB shape: one linear micro-sum pass + a 64-row reduce, then one
    * broadcast scan — the same two-pass shape as any global-stats
    * normalize. */
  val vecOodCentroid = Q(
    "vec_ood_centroid",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
        .withColumn("e", dbl(col("embedding")))
      val mu = emb
        .select(posexplode(col("e")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(sum(round(col("x") * lit(1e6), 0).cast("bigint")).as("sm"),
          count(lit(1)).as("n"))
        .groupBy()
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("sm"), col("n")))),
          s => s.getField("sm").cast("double")
            / s.getField("n").cast("double") / lit(1e6)).as("mu"))
      emb.crossJoin(broadcast(mu))
        .select(col("vec_id"),
          round(lit(1.0) - expr("cosine_native(e, mu)"), 4).as("ood"))
        .orderBy(col("ood").desc, col("vec_id"))
        .limit(10)
    },
    Some(s"""WITH per AS (SELECT dim,
                                 CAST(sum(micro) AS BIGINT) AS sm,
                                 count(*) AS n
                          FROM (SELECT generate_subscripts(embedding, 1) AS dim,
                                       CAST(round(CAST(unnest(embedding) AS DOUBLE)
                                             * 1e6, 0) AS BIGINT) AS micro
                                FROM embeddings)
                          GROUP BY dim),
                 mu AS (SELECT list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) / 1e6
                               ORDER BY dim) AS mu
                        FROM per)
            SELECT vec_id,
                   round(1.0 - ${oDot("list_transform(embedding, x -> CAST(x AS DOUBLE))", "mu.mu")} /
                         (${oNorm("list_transform(embedding, x -> CAST(x AS DOUBLE))")} * ${oNorm("mu.mu")}), 4)
                     AS ood
            FROM embeddings CROSS JOIN mu
            ORDER BY ood DESC, vec_id LIMIT 10"""))

  /** Centroid-to-centroid distance matrix (round-9) — the index-
    * maintenance diagnostic read after every re-cluster: pairwise cosine
    * between the 8 seeded centroids (k² = 64 rows, trivially broadcast
    * at any k a human would inspect); two centroids too close means the
    * partition wastes a cell (merge candidates), the complement of
    * vec_cluster_stats' within-cell report. Shares the exact fold/oracle
    * discipline of the pair queries. */
  val vecCentroidDistances = Q(
    "vec_centroid_distances",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val c = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
      val a = c.select(col("vec_id").as("c1"), col("e").as("e1"))
      val b = c.select(col("vec_id").as("c2"), col("e").as("e2"))
      a.join(broadcast(b), col("c1") < col("c2"))
        // D.nz: centroid pairs can be near-orthogonal; a tiny-negative
        // cosine must not round to -0.0 on one engine only
        .select(col("c1"), col("c2"),
          graft.util.D.nz(round(expr("cosine_native(e1, e2)"), 4))
            .as("cos_sim"))
        .orderBy("c1", "c2")
    },
    Some(s"""SELECT a.vec_id AS c1, b.vec_id AS c2,
                   round(${oDot("a.embedding::DOUBLE[]", "b.embedding::DOUBLE[]")} /
                         (${oNorm("a.embedding::DOUBLE[]")} * ${oNorm("b.embedding::DOUBLE[]")}), 4) + 0.0 AS cos_sim
            FROM embeddings a JOIN embeddings b
              ON a.vec_id < b.vec_id
            WHERE a.vec_id < 8 AND b.vec_id < 8
            ORDER BY c1, c2"""))

  /** Incremental index ingest census (round-10) — the vector analog of
    * text_incremental_dedup: route the NEW batch of embeddings (odd
    * vec_ids) into a FROZEN prior index (centroids = the prior corpus's
    * seeded rule, first 8 EVEN ids) and report per-centroid ingest load
    * and similarity spread — the daily "cluster balance" health check
    * that detects index drift (a centroid soaking up the batch, or
    * falling mean similarity, means the frozen codebook no longer fits
    * the incoming distribution and a re-fit is due). Assignment is the
    * vec_centroid_assign total order (rounded-4dp cosine desc, cid asc);
    * mean_sim sums the rounded cosines in EXACT DECIMAL before one
    * double division (order-free on both engines).
    *
    * 100-TB shape: centroids broadcast (the frozen index is tiny
    * metadata); the new batch streams through one linear assignment scan
    * + one per-centroid hash agg — incremental cost O(batch), the prior
    * corpus is never rescanned. */
  val vecIndexNewBatch = Q(
    "vec_index_new_batch",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val cents = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 16)
        .select(col("vec_id").as("centroid_id"), dbl(col("embedding")).as("ce"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos_sim").desc, col("centroid_id"))
      emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id"), dbl(col("embedding")).as("e"))
        .crossJoin(broadcast(cents))
        // D.nz at the source (sf5 sweep, round-10): min/max over rounded
        // cosines must never emit -0.0, and the rank must not see it
        .select(col("vec_id"), col("centroid_id"),
          graft.util.D.nz(round(expr("cosine_native(e, ce)"), 4))
            .as("cos_sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .groupBy("centroid_id")
        .agg(count(lit(1)).as("n_new"),
          (sum(col("cos_sim").cast("decimal(14,4)")).cast("decimal(18,4)")
            .cast("double") / count(lit(1)).cast("double")).as("mean_sim"),
          min(col("cos_sim")).as("min_sim"),
          max(col("cos_sim")).as("max_sim"))
        .orderBy("centroid_id")
    },
    Some(s"""WITH a AS (
              SELECT vec_id, centroid_id, cos_sim FROM (
                SELECT v.vec_id, c.vec_id AS centroid_id,
                       round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                             (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) + 0.0 AS cos_sim,
                       row_number() OVER (PARTITION BY v.vec_id
                                          ORDER BY round(${oDot("v.embedding::DOUBLE[]", "c.embedding::DOUBLE[]")} /
                                                         (${oNorm("v.embedding::DOUBLE[]")} * ${oNorm("c.embedding::DOUBLE[]")}), 4) + 0.0 DESC,
                                                   c.vec_id) AS rk
                FROM embeddings v CROSS JOIN embeddings c
                WHERE v.vec_id % 2 = 1 AND c.vec_id % 2 = 0 AND c.vec_id < 16)
              WHERE rk = 1)
            SELECT centroid_id, count(*) AS n_new,
                   CAST(CAST(sum(CAST(cos_sim AS DECIMAL(14,4)))
                        AS DECIMAL(18,4)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS mean_sim,
                   min(cos_sim) AS min_sim, max(cos_sim) AS max_sim
            FROM a GROUP BY centroid_id ORDER BY centroid_id"""))

  /** ANN recall curve as a graded query (round-10) — evaluation-as-a-
    * query for the vector tier, the VecBench recall table's graded
    * sibling: recall@k (k ∈ 1, 5, 10) of the 1-bit sign-Hamming
    * 30-shortlist against the exact cosine top-k, in one artifact. The
    * sign/Hamming math is deterministic bit arithmetic (no hash family),
    * so unlike the P3 sketches this accuracy measurement is itself
    * oracle-exact. A recall drop in the graded artifact means the coarse
    * stage no longer contains the true neighbors — the re-index alarm.
    *
    * 100-TB shape: ONE corpus scan computes both scores (rounded cosine
    * + Hamming vs the broadcast query); both cuts are sort-limit top-k
    * (TakeOrdered — per-partition heaps, never a corpus-wide window);
    * the recall join touches ≤ 30 rows. */
  val vecRecallCurve = Q(
    "vec_recall_curve",
    (spark, sfDir) => {
      graft.functions.CosineSim.register(spark)
      graft.functions.HammingSign.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val q = emb.filter(col("vec_id") === 0)
        .select(dbl(col("embedding")).as("graft_qe"))
      val scored = emb.filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dbl(col("embedding")).as("graft_e"))
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(expr("cosine_native(graft_e, graft_qe)"), 4).as("cos_sim"),
          expr("hamming_sign_native(graft_e, graft_qe)").as("hamming"))
      val exact10 = scored.orderBy(col("cos_sim").desc, col("vec_id"))
        .limit(10)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cos_sim").desc, col("vec_id"))))
      val short30 = scored.orderBy(col("hamming"), col("vec_id")).limit(30)
        .select(col("vec_id").as("sid"))
      val hits = exact10
        .join(short30, col("vec_id") === col("sid"), "left")
        .select(col("rk"), col("sid").isNotNull.cast("long").as("hit"))
      Seq(1, 5, 10).map { k =>
        hits.filter(col("rk") <= k)
          .agg(sum(col("hit")).as("n_hits"))
          .select(lit(k).cast("bigint").as("k"), col("n_hits"),
            (col("n_hits").cast("double") / k).as("recall"))
      }.reduce(_.unionAll(_)).orderBy("k")
    },
    Some(s"""WITH qv AS (SELECT embedding::DOUBLE[] AS qe
                         FROM embeddings WHERE vec_id = 0),
                 scored AS (
                   SELECT vec_id,
                          round(${oDot("embedding::DOUBLE[]", "(SELECT qe FROM qv)")} /
                                (${oNorm("embedding::DOUBLE[]")} *
                                 ${oNorm("(SELECT qe FROM qv)")}), 4) AS cos_sim,
                          CAST(len(list_filter(
                            list_zip(embedding::DOUBLE[],
                                     (SELECT qe FROM qv)),
                            p -> (p[1] >= 0) != (p[2] >= 0))) AS BIGINT)
                            AS hamming
                   FROM embeddings WHERE vec_id != 0),
                 exact AS (SELECT vec_id,
                                  row_number() OVER (ORDER BY cos_sim DESC,
                                    vec_id) AS rk
                           FROM scored
                           ORDER BY cos_sim DESC, vec_id LIMIT 10),
                 short AS (SELECT vec_id FROM scored
                           ORDER BY hamming, vec_id LIMIT 30),
                 hits AS (SELECT e.rk,
                                 CASE WHEN s.vec_id IS NOT NULL
                                      THEN 1 ELSE 0 END AS hit
                          FROM exact e LEFT JOIN short s
                            ON e.vec_id = s.vec_id)
            SELECT k, n_hits, CAST(n_hits AS DOUBLE) / k AS recall FROM (
              SELECT CAST(1 AS BIGINT) AS k,
                     CAST(sum(hit) FILTER (rk <= 1) AS BIGINT) AS n_hits
              FROM hits
              UNION ALL
              SELECT 5, CAST(sum(hit) FILTER (rk <= 5) AS BIGINT) FROM hits
              UNION ALL
              SELECT 10, CAST(sum(hit) FILTER (rk <= 10) AS BIGINT) FROM hits)
            ORDER BY k"""))

  /** Matryoshka truncation-recall curve (round-11) — the EVALUATION face
    * of vec_prefix_rerank (which hard-codes prefix dim 16 as its coarse
    * stage): exact top-10 by cosine computed at prefix dims 8/16/32/64,
    * each scored against the full-64-dim truth set as recall@10 — the
    * measured readout that tells an embedding-pipeline owner how far MRL
    * truncation can go before the coarse stage starts missing real
    * neighbors (the dim-64 row is the 1.0 anchor by construction). Same
    * eval family as vec_recall_curve (hamming shortlist) and
    * text_dedup_eval (banding P/R): the tuning knob gets a graded,
    * oracle-exact measurement, not a guess. Measured at sf0.1: recall@10
    * = 0.0 / 0.1 / 0.3 / 1.0 at dims 8/16/32/64 — the fixture's
    * embeddings are NOT MRL-trained (no variance front-loading), and the
    * curve correctly exposes that truncation is unsafe on them; a real
    * Matryoshka-trained space reads near-1.0 down to small dims, and
    * THIS readout is how you know which regime you are in (it is also
    * why vec_prefix_rerank's coarse-16 stage widens to a 50-candidate
    * shortlist before the exact rerank). All four rankings use the
    * rounded-4dp cosine with -0.0 canonicalized (D.nz / +0.0) and vec_id
    * tiebreak — the repo's total-order discipline.
    *
    * 100-TB shape: one broadcast query row, one linear scan computing
    * the four prefix cosines fused (each a codegen'd dot_native over a
    * slice), four TakeOrdered(10) cuts, a tiny join census. */
  val vecMatryoshkaRecall = Q(
    "vec_matryoshka_recall",
    (spark, sfDir) => {
      graft.functions.DotProduct.register(spark)
      val emb = Tables.embeddings(spark, sfDir)
      val v = emb.select(col("vec_id"), dbl(col("embedding")).as("e"))
      val q = v.filter(col("vec_id") === 0).select(col("e").as("qe"))
      val dims = Seq(8, 16, 32, 64)
      def c(d: Int) = graft.util.D.nz(round(
        expr(s"dot_native(slice(e, 1, $d), slice(qe, 1, $d))")
          / (sqrt(expr(s"dot_native(slice(e, 1, $d), slice(e, 1, $d))"))
             * sqrt(expr(s"dot_native(slice(qe, 1, $d), slice(qe, 1, $d))"))),
        4))
      val scored = v.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id") +: dims.map(d => c(d).as(s"c$d")): _*)
      val full10 = scored.orderBy(col("c64").desc, col("vec_id"))
        .limit(10).select(col("vec_id"))
      dims.map { d =>
        val topd = scored.orderBy(col(s"c$d").desc, col("vec_id"))
          .limit(10).select(col("vec_id").as("tid"))
        full10.join(topd, col("vec_id") === col("tid"), "left")
          .agg(sum(col("tid").isNotNull.cast("long")).as("n_hits"))
          .select(lit(d).cast("bigint").as("dim"), col("n_hits"),
            (col("n_hits").cast("double") / 10.0).as("recall10"))
      }.reduce(_.unionAll(_)).orderBy("dim")
    },
    Some {
      val dims = Seq(8, 16, 32, 64)
      def sl(x: String, d: Int) = s"($x)[1:$d]"
      val scs = dims.map { d =>
        s"""sc$d AS (SELECT vec_id,
               round(${oDot(sl("embedding::DOUBLE[]", d), sl("(SELECT qe FROM qv)", d))}
                     / (${oNorm(sl("embedding::DOUBLE[]", d))}
                        * ${oNorm(sl("(SELECT qe FROM qv)", d))}), 4) + 0.0
                 AS c
             FROM embeddings WHERE vec_id != 0)"""
      }
      val tops = dims.map(d =>
        s"top$d AS (SELECT vec_id FROM sc$d ORDER BY c DESC, vec_id LIMIT 10)")
      val rows = dims.map(d =>
        s"""SELECT CAST($d AS BIGINT) AS dim, n_hits,
                   CAST(n_hits AS DOUBLE) / 10 AS recall10
            FROM (SELECT CAST(count(t.vec_id) AS BIGINT) AS n_hits
                  FROM top64 f LEFT JOIN top$d t ON f.vec_id = t.vec_id)""")
      s"""WITH qv AS (SELECT embedding::DOUBLE[] AS qe
                      FROM embeddings WHERE vec_id = 0),
               ${(scs ++ tops).mkString(",\n")}
          SELECT dim, n_hits, recall10
          FROM (${rows.mkString(" UNION ALL ")})
          ORDER BY dim"""
    })

  def qs: Seq[Q] = Seq(vecL2Normalize, vecCosineTopk, vecKnnThreshold,
    vecCosineTopkNative, vecBatchTopk, vecDupClusters, vecDedupThresholdSweep, vecCentroidAssign,
    vecScalarQuantize, vecKmeansStep, vecCosineHistogram, vecDimStats,
    vecPqQuantize, vecPqAdcTopk, vecSemanticDedup, vecIvfPqRerank,
    vecResidualPqTopk, vecPrefixRerank, vecMipsTopk, vecSignHammingTopk,
    vecPowerIter, vecInt8DotTopk, vecClusterStats, vecHardNegatives, vecMatryoshkaRecall,
    vecOodCentroid, vecCentroidDistances, vecIndexNewBatch, vecRecallCurve)
}
