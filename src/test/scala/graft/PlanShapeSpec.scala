package graft

import graft.queries.Registry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Plan-shape regression gate (round-5 verdict #5): the load-bearing
  * physical-plan properties of the heaviest queries, asserted so a future
  * edit that silently de-optimizes a plan fails the build instead of only
  * showing up as a bench regression. Checks run on the INITIAL physical
  * plan (pre-AQE finalization) — broadcast selection, top-k operators,
  * pushed filters and cache usage are all decided there.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.byName(name).build(spark, sf0001)
      .queryExecution.executedPlan.toString

  /** The graded query `name` scans a checkpointed frame (a `Memo.frame`)
    * with exactly `build`'s columns: the link between a graded plan and
    * the memoized build a gate inspects in its place. */
  private def assertReadsStored(name: String, build: DataFrame): Unit = {
    val df = Registry.byName(name).build(spark, sf0001)
    assert(df.queryExecution.executedPlan.toString.contains("Scan ExistingRDD"),
      s"$name: no checkpointed-frame scan")
    val cols = build.columns.toSeq
    val linked = df.queryExecution.analyzed.collectLeaves().exists {
      case r: LogicalRDD => r.rdd.isCheckpointed && r.output.map(_.name) == cols
      case _ => false
    }
    assert(linked,
      s"$name reads no stored frame with the build's columns ${cols.mkString(", ")}")
  }

  private def pushedNonEmpty(p: String): Boolean =
    "PushedFilters: \\[[^\\]]".r.findFirstIn(p).isDefined

  test("no graded plan contains a CartesianProduct") {
    // crossJoin sites in the suite are all broadcast-1-row/tiny frames,
    // which plan as BroadcastNestedLoopJoin — an unbounded cartesian
    // anywhere is a scale bug, with no exceptions
    Registry.all.foreach { q =>
      val p = q.build(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct")
    }
  }

  test("filter pushdown reaches the parquet scan on dated/selective scans") {
    Seq("scan_filter_pushdown", "join_star_flagship", "join_bcast_chain")
      .foreach { n =>
        assert(pushedNonEmpty(plan(n)), s"$n: no non-empty PushedFilters")
      }
  }

  test("dimension joins broadcast — no sort-merge join in the star/chain plans") {
    Seq("join_bcast_chain", "join_star_flagship").foreach { n =>
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n: no BroadcastHashJoin")
      assert(!p.contains("SortMergeJoin"),
        s"$n: SortMergeJoin crept into a broadcast-dim plan")
    }
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    Seq("sort_limit_topk", "text_ngram_topk", "vec_cosine_topk_native")
      .foreach { n =>
        assert(plan(n).contains("TakeOrderedAndProject"),
          s"$n: top-k lost TakeOrderedAndProject")
      }
  }

  test("aggregations keep the partial (map-side) phase") {
    Seq("agg_q1_pricing", "agg_twophase_salted", "ts_tumbling").foreach { n =>
      val c = "HashAggregate".r.findAllIn(plan(n)).length
      assert(c >= 2, s"$n: $c HashAggregate nodes — partial agg missing")
    }
  }

  test("LSH banding pairs broadcast the tiny signature side") {
    // text_minhash_band_pairs and text_lsh_dedup_verified read their band
    // self-join from one memoized candidate frame: its build plan is the
    // one that carries the join
    val minhashBuild = graft.queries.TextOps.unigramCandBuild(spark, sf0001, 200)
    Seq("text_minhash_band_pairs", "text_lsh_dedup_verified")
      .foreach(assertReadsStored(_, minhashBuild))
    val minhashBands = minhashBuild.queryExecution.executedPlan.toString
    Seq("text_simhash_band_pairs" -> plan("text_simhash_band_pairs"),
      "minhash candidate frame" -> minhashBands).foreach { case (n, p) =>
      assert(p.contains("BroadcastHashJoin"),
        s"$n: band self-join no longer broadcasts")
    }
  }

  test("residual-PQ plans broadcast everything but the corpus scans") {
    // centroids / probes / codebook / LUT are all tiny: any sort-merge
    // join here means a broadcast hint was lost and a full shuffle of
    // the corpus crept in; the final cut must stay a TakeOrdered top-k
    val p = plan("vec_residual_pq_topk")
    assert(!p.contains("SortMergeJoin"),
      "vec_residual_pq_topk: SortMergeJoin crept into a broadcast-only plan")
    assert(p.contains("TakeOrderedAndProject"),
      "vec_residual_pq_topk: top-k cut lost TakeOrderedAndProject")
  }

  test("ANN index frames are served from the memoized cache, not re-encoded per reference") {
    // round-8 fix: the PQ codes / IVF assignment / dedup assignment are
    // query-independent and memoized (Memo.frame checkpoints); a plan
    // without a scan of a stored RDD means a refactor dropped the Memo and
    // the encode subtree re-runs per reference (measured 16-24 corpus
    // scans)
    Seq("vec_pq_adc_topk", "vec_ivf_pq_rerank", "vec_residual_pq_topk",
      "vec_semantic_dedup").foreach { n =>
      assert(plan(n).contains("Scan ExistingRDD"),
        s"$n: no checkpointed-frame scan — index memoization lost")
    }
  }

  test("text plans derive every documents leaf from the shared tokenized cache") {
    // the single-tokenize property (round-5 verdict #2): after docToks,
    // a text plan re-scanning documents.parquet directly means a code
    // path skipped the shared frame and pays its own tokenize
    val textHeavy = Seq("text_chunk_dedup", "text_stopword_discovery",
      "text_dedup_pipeline", "text_tfidf", "text_keyword_topk",
      "text_contamination", "text_trigram_profile", "text_ngram_topk",
      "text_repetition_stats", "text_simhash_band_pairs",
      "text_minhash_band_pairs", "text_lsh_dedup_verified",
      "text_length_histogram", "text_stats", "text_quality",
      "text_bm25_rank")
    textHeavy.foreach { n =>
      val df = Registry.byName(n).build(spark, sf0001)
      val leaves = df.queryExecution.optimizedPlan.collectLeaves()
      assert(leaves.nonEmpty)
      val stray = leaves.filterNot(l => (l match {
          case r: LogicalRDD => r.rdd.isCheckpointed // a Memo.frame
          case _ => false
        })
        || l.getClass.getSimpleName.contains("OneRowRelation")
        || l.getClass.getSimpleName.contains("LocalRelation"))
      assert(stray.isEmpty,
        s"$n: leaves outside the shared cache: " +
          stray.map(_.getClass.getSimpleName).mkString(","))
    }
  }

  test("vec_dup_clusters generates candidate pairs by EQUI-join, never all-pairs") {
    // the r9 SemDeDup-shaped rewrite (r8 verdict #4): the only nested-loop
    // join allowed in this plan is the 8-row broadcast centroid assignment;
    // the pair stage must be a hash/sort-merge join keyed on the cluster
    // id, so candidate work is bounded by cluster size at any corpus scale.
    // the pair stage runs inside the memoized edge frame: check its build
    val edges = graft.queries.Vectors.dupClusterEdges(spark, sf0001)
    assertReadsStored("vec_dup_clusters", edges)
    val p = edges.queryExecution.executedPlan.toString
    val pairCut = "v1#\\d+L? < v2#\\d+".r // attribute refs carry #exprIds
    val nested = "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).toList
    assert(nested.nonEmpty, "expected the 8-row broadcast centroid joins")
    nested.foreach { j =>
      assert(pairCut.findFirstIn(j).isEmpty,
        s"all-pairs nested-loop pair join crept back into vec_dup_clusters: $j")
    }
    // the v1 < v2 cut must ride on an equi-join (hash or SMJ) keyed on the
    // cluster id, i.e. appear on a non-nested-loop join operator line
    val equiPair = p.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && pairCut.findFirstIn(l).isDefined)
    assert(equiPair,
      "pair generation is not an equi-join with the v1<v2 cut as condition")
  }

  test("multi-distinct aggregation plans one Expand over one scan, not N self-joins") {
    // agg_multi_distinct (round-9): Catalyst must evaluate the two
    // COUNT(DISTINCT) columns via the Expand fan-out on a SINGLE events
    // scan — the shape that scales; a regression to per-distinct
    // subplans would show up as multiple parquet scans.
    val p = plan("agg_multi_distinct")
    assert(p.contains("Expand"), "expected Expand in the multi-distinct plan")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected one events scan, found $scans")
  }

  test("IN-list membership filter pushes down to the parquet scan") {
    // scan_in_pushdown (round-9): the In(o_orderpriority, [...]) filter
    // must reach the reader so zone maps can skip row groups.
    val p = plan("scan_in_pushdown")
    assert(pushedNonEmpty(p), "no pushed filters in scan_in_pushdown")
    assert(p.contains("In(o_orderpriority"),
      "IN-list not pushed to the orders scan")
  }

  test("text_incremental_dedup probes the prior corpus by equi-joins only") {
    // round-10: both incremental probe stages (content-hash, band-key)
    // must be hash/sort-merge EQUI-joins — a nested-loop anywhere means
    // the daily batch rescans the prior corpus pairwise, the exact
    // failure incremental dedup exists to avoid.
    val p = plan("text_incremental_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "incremental dedup must contain no nested-loop/cartesian join")
    assert(p.contains("Join"), "expected probe joins in the plan")
  }

  test("vec_index_new_batch broadcasts the frozen centroids") {
    // round-10: the frozen prior index is tiny metadata — the assignment
    // must be a broadcast of the 8 centroids against the linear batch
    // scan (BroadcastNestedLoopJoin of a broadcast 8-row frame), never a
    // shuffle of the batch keyed by anything.
    val p = plan("vec_index_new_batch")
    assert(p.contains("Broadcast"),
      "centroids are not broadcast in vec_index_new_batch")
  }

  test("sql_correlated_exists decorrelates to semi+anti joins") {
    // round-10: EXISTS / NOT EXISTS from the raw-SQL face must rewrite to
    // hash joins on the correlation column (RewritePredicateSubquery) —
    // a per-row subquery execution would be the non-scalable shape.
    val p = plan("sql_correlated_exists")
    assert(p.contains("LeftSemi"), "EXISTS did not become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS did not become an anti join")
  }

  test("vec_recall_curve cuts by TakeOrdered heaps, not corpus-wide windows") {
    // round-10: both the exact top-10 and the Hamming 30-shortlist must
    // plan as TakeOrderedAndProject (per-partition heaps); the only
    // window may run over the ≤10-row limited frame.
    val p = plan("vec_recall_curve")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      "expected both top-k cuts to plan TakeOrderedAndProject")
  }

  test("agg_topk_udaf runs the Aggregator as partial + final ObjectHashAggregate") {
    // VERDICT-r10 #4: the graded UDAF's whole point is the O(K) mergeable
    // buffer pre-combining map-side — two ObjectHashAggregate levels
    // (partial_topkagg below the exchange, topkagg above) or the promotion
    // silently degraded to a shuffle-everything aggregate
    val p = plan("agg_topk_udaf")
    assert(p.contains("ObjectHashAggregate"), p)
    assert("partial_topkagg".r.findAllIn(p.toLowerCase).nonEmpty,
      s"no partial aggregation phase for the UDAF:\n$p")
    assert(p.split("ObjectHashAggregate").length > 2,
      s"expected two ObjectHashAggregate levels around the exchange:\n$p")
  }

  test("full-corpus dedup candidate generation is equi-join-only (VERDICT-r11 #1)") {
    // text_dedup_cc's lifted (uncapped) edge frame: shingle-hash minhash
    // banding must candidate-generate through the band-key EQUI-join —
    // a nested-loop or cartesian anywhere means the full-corpus lift
    // silently went quadratic in documents
    import org.apache.spark.sql.functions._
    val withSh = graft.queries.TextOps.docToks(spark, sf0001)
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(tk) - 7), i -> array_join(slice(tk, i, 8), ' '))").as("sh"))
    val cand = graft.ops.Ops.minhashCandidatePairsArr(
      withSh, col("doc_id"), col("sh"), numHashes = 8, bands = 4)
    val p = cand.queryExecution.executedPlan.toString
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"band join must be an equi-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"full-corpus candidate generation must never pair-scan:\n$p")
  }

  test("text_substring_dedup content-addresses by hash equi-join, never a pair scan") {
    // the shingle self-join must key on the content hash (broadcast or
    // shuffled hash/SMJ are all fine — Catalyst picks by stats); a
    // nested-loop anywhere means the equi-key was lost and the plan went
    // quadratic in documents. The join runs inside the memoized run
    // frame text_substring_dedup reads, so its build plan is checked.
    val runs = graft.queries.TextOps.substringRunsBuild(spark, sf0001)
    assertReadsStored("text_substring_dedup", runs)
    val p = runs.queryExecution.executedPlan.toString
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"substring dedup must never pair-scan:\n$p")
  }
}
