package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.{D, Tables}

/** ML preprocessing tier (SURVEY §2.11): normalization, encoding, label
  * indexing, deterministic splits, and the composed batch pipeline — the
  * Spark-native generalization of a sensory batch preprocessor (decode →
  * normalize → encode → split → batch).
  *
  * All stages are pure expressions (MLlib MinMaxScaler/StandardScaler/
  * OneHotEncoder/StringIndexer equivalents in closed form): codegen'd, no
  * per-executor state, oracle-matchable, and shuffle-free except for the
  * tiny per-group stats aggregations — the 100-TB-safe formulation.
  * Train/test split uses md5 (identical across engines), never rand(seed).
  */
object MlPrep {

  /** Min-max normalize event values to [0,1] per event type. */
  val mlMinmaxNorm = Q(
    "ml_minmax_norm",
    (spark, sfDir) => {
      val w = Window.partitionBy("event_type")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("value"),
          round((col("value") - min(col("value")).over(w)) /
            nullif(max(col("value")).over(w) - min(col("value")).over(w), lit(0.0)), 6)
            .as("value_norm"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type, value,
            round((value - min(value) OVER (PARTITION BY event_type)) /
                  nullif(max(value) OVER (PARTITION BY event_type)
                         - min(value) OVER (PARTITION BY event_type), 0.0), 6) AS value_norm
            FROM events ORDER BY event_id"""))

  /** Z-score of order totals per market segment — stats aggregated once and
    * broadcast back (agg+join scales better than a 5-partition window). */
  val mlZscore = Q(
    "ml_zscore",
    (spark, sfDir) => {
      val j = Tables.orders(spark, sfDir)
        .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
      val stats = j.groupBy(col("c_mktsegment").as("seg"))
        .agg(avg(col("o_totalprice")).as("mu"),
          stddev_samp(col("o_totalprice")).as("sigma"))
      j.join(broadcast(stats), col("c_mktsegment") === col("seg"))
        .select(col("o_orderkey"), col("c_mktsegment"),
          (round((col("o_totalprice") - col("mu")) / col("sigma"), 4) + lit(0.0)).as("z"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, c_mktsegment,
            round((o_totalprice - mu) / sigma, 4) + 0.0 AS z
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN (SELECT c_mktsegment AS seg, avg(o_totalprice) AS mu,
                         stddev_samp(o_totalprice) AS sigma
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY c_mktsegment) s
              ON c_mktsegment = seg
            ORDER BY o_orderkey"""))

  /** One-hot encode event_type over its (closed, fixture-pinned) domain. */
  val mlOnehot = Q(
    "ml_onehot",
    (spark, sfDir) => {
      def oh(v: String) = when(col("event_type") === v, 1).otherwise(0).as(s"oh_$v")
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          oh("click"), oh("error"), oh("purchase"), oh("signup"), oh("view"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, event_type,
            CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS oh_click,
            CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS oh_error,
            CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS oh_purchase,
            CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS oh_signup,
            CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS oh_view
            FROM events ORDER BY event_id"""))

  /** StringIndexer semantics: label = rank by (frequency DESC, value ASC). */
  val mlLabelIndex = Q(
    "ml_label_index",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("label",
          (dense_rank().over(Window.orderBy(col("n").desc, col("event_type"))) - 1)
            .cast("bigint"))
        .orderBy("label"),
    Some("""SELECT event_type, count(*) AS n,
            CAST(dense_rank() OVER (ORDER BY count(*) DESC, event_type) - 1 AS BIGINT) AS label
            FROM events GROUP BY event_type ORDER BY label"""))

  /** Deterministic 80/20 split on md5 of a salted id — engine-portable
    * (md5 hex is identical everywhere; lowercase-hex string compare equals
    * numeric byte compare: 0xcc/0x100 = 79.7% train). */
  val mlSplitHash = Q(
    "ml_split_hash",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .select(col("event_id"),
          when(substring(md5(concat(lit("ev"), col("event_id").cast("string"))), 1, 2) < "cc",
            "train").otherwise("test").as("split"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
            CASE WHEN substring(md5('ev' || CAST(event_id AS VARCHAR)), 1, 2) < 'cc'
                 THEN 'train' ELSE 'test' END AS split
            FROM events ORDER BY event_id"""))

  /** The composed sensory-batch analog: normalize + one-hot + label index +
    * md5 split, assembled per event and ordered — one pass, all expressions. */
  val mlPipelineBatch = Q(
    "ml_pipeline_batch",
    (spark, sfDir) => {
      val w = Window.partitionBy("event_type")
      val labels = Tables.events(spark, sfDir)
        .groupBy(col("event_type").as("lbl_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("lbl_type"),
          (dense_rank().over(Window.orderBy(col("n").desc, col("lbl_type"))) - 1)
            .cast("bigint").as("label"))
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          round((col("value") - min(col("value")).over(w)) /
            nullif(max(col("value")).over(w) - min(col("value")).over(w), lit(0.0)), 6)
            .as("f_norm"))
        .join(broadcast(labels), col("event_type") === col("lbl_type"))
        .select(col("event_id"),
          when(substring(md5(concat(lit("ev"), col("event_id").cast("string"))), 1, 2) < "cc",
            "train").otherwise("test").as("split"),
          col("f_norm"), col("label"))
        .orderBy("event_id")
    },
    Some("""WITH labels AS (
              SELECT event_type AS lbl_type,
                     CAST(dense_rank() OVER (ORDER BY count(*) DESC, event_type) - 1 AS BIGINT) AS label
              FROM events GROUP BY event_type),
            feats AS (
              SELECT event_id, event_type,
                     round((value - min(value) OVER (PARTITION BY event_type)) /
                           nullif(max(value) OVER (PARTITION BY event_type)
                                  - min(value) OVER (PARTITION BY event_type), 0.0), 6) AS f_norm
              FROM events)
            SELECT event_id,
                   CASE WHEN substring(md5('ev' || CAST(event_id AS VARCHAR)), 1, 2) < 'cc'
                        THEN 'train' ELSE 'test' END AS split,
                   f_norm, label
            FROM feats JOIN labels ON event_type = lbl_type
            ORDER BY event_id"""))

  /** MLlib Pipeline parity (round-16, VERDICT-r15 #6 — the north star's
    * "MLlib pipelines" wording as a graded artifact): a REAL fitted
    * `org.apache.spark.ml.Pipeline` — VectorAssembler → MinMaxScaler →
    * StringIndexer(frequencyDesc) → OneHotEncoder(dropLast=false) — whose
    * transform output is graded hash-exact against an expression-form SQL
    * oracle replaying each stage's published semantics: MinMaxScaler's
    * global (v−min)/(max−min) (the [0,1] default makes the trailing
    * ·scale+min an IEEE identity — raw·1.0+0.0), StringIndexer's
    * (frequency DESC, value ASC) label order (ml_label_index's rule), and
    * the one-hot vector read back positionally as oh_0..oh_4 (label-keyed,
    * not name-keyed, so the oracle never needs the fitted labelsArray).
    * The fitted PipelineModel is memoized per (session, corpus) — fitting
    * runs two corpus aggregates (min/max summary + label counts); the
    * graded transform itself is one scan with a broadcast label map.
    *
    * 100-TB shape: fit = two tree-aggregates (no shuffle of fact rows);
    * transform is embarrassingly parallel row-local vector math. The
    * quotient divides identical finished doubles on both engines; round 6
    * per the repo's computed-quotient convention. */
  val mlPipelineMllib = Q(
    "ml_pipeline_mllib",
    (spark, sfDir) => {
      import org.apache.spark.ml.Pipeline
      import org.apache.spark.ml.feature.{MinMaxScaler, OneHotEncoder, StringIndexer, VectorAssembler}
      import org.apache.spark.ml.functions.vector_to_array
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"), col("value"))
      val model = graft.util.Memo(spark,
          s"$sfDir:mllibpipe:${Tables.tableKey(sfDir, "events")}") {
        new Pipeline().setStages(Array(
          new VectorAssembler().setInputCols(Array("value"))
            .setOutputCol("v_raw"),
          new MinMaxScaler().setInputCol("v_raw").setOutputCol("v_scaled"),
          new StringIndexer().setInputCol("event_type").setOutputCol("label_d")
            .setStringOrderType("frequencyDesc"),
          new OneHotEncoder().setInputCol("label_d").setOutputCol("oh")
            .setDropLast(false))).fit(ev)
      }
      val cols = Seq(
        round(vector_to_array(col("v_scaled")).getItem(0), 6).as("f_norm"),
        col("label_d").cast("bigint").as("label")) ++
        // get(·,i) + coalesce(·,0), not bare getItem (ADVICE-r16): with
        // fewer than 5 distinct event types the one-hot vector is shorter
        // than the fixed 5-column graded shape — and under Spark 4's ANSI
        // default an out-of-bounds getItem THROWS (verified in
        // Round17OpsSpec), so the old decode didn't just mis-null, it
        // aborted. get() tolerates the short vector (NULL), coalesce maps
        // it to the oracle's CASE-else 0. (>5 types is already shape-safe:
        // a row whose label ≥ 5 reads 0 in all five slots on both engines.)
        (0 to 4).map(i =>
          coalesce(get(vector_to_array(col("oh")), lit(i)), lit(0.0))
            .cast("int").as(s"oh_$i"))
      model.transform(ev)
        .select(col("event_id") +: cols: _*)
        .orderBy("event_id")
    },
    Some("""WITH labels AS (
              SELECT event_type AS lbl_type,
                     CAST(dense_rank() OVER (ORDER BY count(*) DESC, event_type) - 1
                          AS BIGINT) AS label
              FROM events GROUP BY event_type),
            mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
            SELECT event_id,
                   -- constant column ⇒ 0.5, MinMaxScaler's published
                   -- convention (0.5·(max_range+min_range) on [0,1]);
                   -- the old nullif(mx-mn,0) yielded NULL there
                   round(CASE WHEN mx = mn THEN 0.5
                              ELSE (value - mn) / (mx - mn) END, 6) AS f_norm,
                   label,
                   CASE WHEN label = 0 THEN 1 ELSE 0 END AS oh_0,
                   CASE WHEN label = 1 THEN 1 ELSE 0 END AS oh_1,
                   CASE WHEN label = 2 THEN 1 ELSE 0 END AS oh_2,
                   CASE WHEN label = 3 THEN 1 ELSE 0 END AS oh_3,
                   CASE WHEN label = 4 THEN 1 ELSE 0 END AS oh_4
            FROM events CROSS JOIN mm JOIN labels ON event_type = lbl_type
            ORDER BY event_id"""))

  /** Deterministic shuffled mini-batch assembly — the sensory-batch core:
    * rows are shuffled by md5 (engine-portable, reproducible), numbered,
    * and chunked into 64-row batches; output is per-batch stats.
    *
    * The global ordinal is computed WITHOUT a global window (a
    * single-task sort at 100 TB): rows bucket by the first two hex
    * digits of the shuffle key — a PREFIX of the sort key, so bucket
    * ranges are contiguous in the global (h, event_id) order — then
    * (1) row_number partitioned per bucket (256-way parallel sort),
    * (2) a 256-row bucket-count aggregate turned into exclusive running
    * offsets by a tiny window, broadcast back, (3) rn = offset + local.
    * Identical output to `row_number() OVER (ORDER BY h, event_id)`,
    * which the oracle keeps as the spec. */
  val mlShuffleBatch = Q(
    "ml_shuffle_batch",
    (spark, sfDir) => {
      val h = md5(concat(lit("b"), col("event_id").cast("string")))
      val keyed = Tables.events(spark, sfDir)
        .select(col("event_id"), col("value"), h.as("h"))
        .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10)
          .cast("bigint"))
      val wLocal = Window.partitionBy("bucket").orderBy("h", "event_id")
      // Exclusive prefix-sum of bucket sizes: 256 rows, so the global
      // window here is over the AGGREGATE, not the data.
      val wOff = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = keyed.groupBy("bucket").agg(count(lit(1)).as("bn"))
        .select(col("bucket").as("obucket"),
          coalesce(sum(col("bn")).over(wOff), lit(0L)).as("off"))
      keyed
        .withColumn("rn_local", row_number().over(wLocal))
        .join(broadcast(offsets), col("bucket") === col("obucket"))
        .withColumn("rn", col("off") + col("rn_local"))
        .withColumn("batch_id", expr("(rn - 1) div 64").cast("bigint"))
        .groupBy("batch_id")
        // exact sum, not avg: value/64 terminates exactly at the 4dp
        // rounding boundary (64 = 2^6), where engine midpoint rules
        // differ — the round-1 lesson applied. batch_id is rows/64, so
        // group count scales WITH the fact table (BASELINE.md finding 1):
        // the sum rides as integer cents (D.sumCents, bit-identical to
        // sumDec; DECIMAL oracle unchanged — parity proves equivalence).
        .agg(count(lit(1)).as("n"),
          min(col("h")).as("first_key"),
          D.sumCents(col("value")).as("sum_value"))
        .orderBy("batch_id")
    },
    Some("""SELECT batch_id, count(*) AS n, min(h) AS first_key,
                   CAST(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
            FROM (SELECT value, h, (row_number() OVER (ORDER BY h, event_id) - 1) // 64 AS batch_id
                  FROM (SELECT event_id, value,
                               md5('b' || CAST(event_id AS VARCHAR)) AS h
                        FROM events))
            GROUP BY batch_id ORDER BY batch_id"""))

  /** Hashing-trick feature bucketing: term → md5 → first 8 hex digits →
    * bigint → mod 1024. Engine-portable (md5 is identical everywhere;
    * values < 2^32 so no sign issues) and collision behavior is part of
    * the output (n_terms per bucket). The classic fixed-width alternative
    * to ml_label_index when the vocabulary is unbounded at 100 TB. */
  val mlFeatureHash = Q(
    "ml_feature_hash",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .filter(length(col("token")) > 0)
        .select(col("token"),
          (conv(substring(md5(col("token")), 1, 8), 16, 10).cast("bigint")
            % 1024).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("token")).as("n_terms"))
        .orderBy("bucket"),
    Some("""SELECT bucket, count(*) AS n_tokens,
                   count(DISTINCT token) AS n_terms
            FROM (SELECT token,
                         ('0x' || substring(md5(token), 1, 8))::BIGINT % 1024 AS bucket
                  FROM (SELECT unnest(string_split(text, ' ')) AS token
                        FROM documents)
                  WHERE length(token) > 0)
            GROUP BY bucket ORDER BY bucket"""))

  /** Stratified 80/20 split: the md5 threshold assignment of ml_split_hash
    * applied WITHIN each segment, with per-(segment, split) counts and
    * exact balance sums — verifies each stratum keeps its own ~80/20. */
  val mlStratifiedSplit = Q(
    "ml_stratified_split",
    (spark, sfDir) =>
      Tables.customer(spark, sfDir)
        .select(col("c_mktsegment"),
          when(substring(md5(concat(lit("c"), col("c_custkey").cast("string"))), 1, 2) < "cc",
            "train").otherwise("test").as("split"),
          col("c_acctbal"))
        .groupBy("c_mktsegment", "split")
        .agg(count(lit(1)).as("n"), D.sumDec(col("c_acctbal")).as("sum_bal"))
        .orderBy("c_mktsegment", "split"),
    Some(s"""SELECT c_mktsegment,
            CASE WHEN substring(md5('c' || CAST(c_custkey AS VARCHAR)), 1, 2) < 'cc'
                 THEN 'train' ELSE 'test' END AS split,
            count(*) AS n, ${D.oSumDec("c_acctbal")} AS sum_bal
            FROM customer GROUP BY c_mktsegment, split
            ORDER BY c_mktsegment, split"""))

  /** Deterministic k-fold assignment (k=5) by salted md5 — the cross-
    * validation analog of ml_split_hash; per-(fold, event_type) counts
    * verify the folds are balanced and type-stratification-free. */
  val mlKfoldAssign = Q(
    "ml_kfold_assign",
    (spark, sfDir) =>
      Tables.events(spark, sfDir)
        .select(col("event_type"),
          (conv(substring(md5(concat(lit("f"), col("event_id").cast("string"))), 1, 8), 16, 10)
            .cast("bigint") % 5).as("fold"))
        .groupBy("fold", "event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("fold", "event_type"),
    Some("""SELECT ('0x' || substring(md5('f' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold,
            event_type, count(*) AS n
            FROM events GROUP BY fold, event_type
            ORDER BY fold, event_type"""))

  /** Context-window chunking: each document split into 64-token chunks at
    * stride 48 (16-token overlap) — the standard LLM training-data shape.
    * Chunks are content-addressed (md5 of joined tokens) rather than
    * emitting the text; chunk count per doc is ceil((n-16)/48) via the
    * stride-48 start sequence. Pure expressions: explode over the start
    * positions, slice, join — row-local, no shuffle until the final sort. */
  val mlTokenChunks = Q(
    "ml_token_chunks",
    (spark, sfDir) =>
      graft.ops.Ops.tokenChunks(Tables.documents(spark, sfDir),
          col("doc_id"), col("text"), chunkSize = 64, stride = 48)
        .orderBy("doc_id", "chunk_no"),
    Some("""SELECT doc_id,
                   CAST((start - 1) // 48 AS BIGINT) AS chunk_no,
                   CAST(len(list_slice(toks, start, start + 63)) AS BIGINT) AS n_chunk_tokens,
                   md5(array_to_string(list_slice(toks, start, start + 63), ' ')) AS chunk_hash
            FROM (SELECT doc_id, toks,
                         unnest(generate_series(1, greatest(len(toks), 1), 48)) AS start
                  FROM (SELECT doc_id, string_split(text, ' ') AS toks
                        FROM documents))
            ORDER BY doc_id, chunk_no"""))

  /** Deterministic per-group reservoir sample: exactly k=5 docs per source
    * (fewer if the group is smaller), chosen by md5 rank — the
    * hash-as-uniform-random trick that makes "sample k per domain" (the
    * standard corpus-balancing step) reproducible across engines and runs.
    * Equivalent in distribution to reservoir sampling; unlike a real
    * reservoir it needs no sequential state, so it parallelizes freely.
    *
    * 100-TB notes: one shuffle on the group key; the per-group sort is
    * bounded by group size and the window emits only k rows per group.
    * (For pathological single-source skew the two-phase trick from
    * ml_shuffle_batch applies; sources are many and balanced here.) */
  val mlReservoirGroup = Q(
    "ml_reservoir_group",
    (spark, sfDir) =>
      graft.ops.Ops.reservoirPerGroup(
          Tables.documents(spark, sfDir).select(col("source"), col("doc_id")),
          col("source"), col("doc_id"), 5)
        .orderBy("source", "rk"),
    Some("""SELECT source, doc_id, rk FROM (
              SELECT source, doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('r' || CAST(doc_id AS VARCHAR)), doc_id)
                     AS BIGINT) AS rk
              FROM documents)
            WHERE rk <= 5 ORDER BY source, rk"""))

  /** Inverse-frequency class weights — the standard imbalanced-training
    * reweighting (weight = N / (K · n_class)): pure integer counts until
    * one final double division of identical operands, so bit-identical
    * across engines. The per-class aggregate is tiny; the totals cross
    * join is a broadcast of one row. */
  val mlClassWeights = Q(
    "ml_class_weights",
    (spark, sfDir) => {
      val emb = Tables.embeddings(spark, sfDir)
      val counts = emb.groupBy(col("label").cast("bigint").as("label"))
        .agg(count(lit(1)).as("n"))
      val tot = emb.agg(count(lit(1)).as("n_total"),
        countDistinct(col("label")).as("k"))
      counts.crossJoin(broadcast(tot))
        .select(col("label"), col("n"),
          (col("n_total").cast("double")
            / (col("k") * col("n")).cast("double")).as("weight"))
        .orderBy("label")
    },
    Some("""SELECT CAST(label AS BIGINT) AS label, count(*) AS n,
                   (SELECT CAST(count(*) AS DOUBLE) FROM embeddings)
                     / CAST((SELECT count(DISTINCT label) FROM embeddings)
                            * count(*) AS DOUBLE) AS weight
            FROM embeddings GROUP BY label ORDER BY label"""))

  /** Sequence packing for LLM pretraining: assign docs to fixed 512-token
    * context bins by sequential fill (cumulative token count, exclusive,
    * integer-divided by the bin size; a doc straddling a boundary belongs
    * to the bin its first token lands in — real packers then split or pad
    * at the boundary). The running sum is windowed PER SOURCE, so packing
    * parallelizes across sources/shards at 100 TB instead of forcing the
    * single global sort a corpus-wide cumsum would. */
  val mlPackSequences = Q(
    "ml_pack_sequences",
    (spark, sfDir) =>
      graft.ops.Ops.packSequences(
          Tables.documents(spark, sfDir)
            .select(col("doc_id"), col("source"), col("text")),
          col("source"), col("doc_id"),
          size(split(col("text"), " ", -1)), binSize = 512)
        .select("doc_id", "source", "n_tokens", "bin", "bin_offset")
        .orderBy("source", "doc_id"),
    Some("""WITH d AS (
              SELECT doc_id, source,
                     CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT doc_id, source, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens
                       AS cum_before
              FROM d)
            SELECT doc_id, source, n_tokens,
                   CAST(floor(CAST(cum_before AS DOUBLE) / 512) AS BIGINT) AS bin,
                   CAST(cum_before - 512 * floor(CAST(cum_before AS DOUBLE) / 512)
                        AS BIGINT) AS bin_offset
            FROM c ORDER BY source, doc_id"""))

  /** Greedy no-split sequence packing efficiency (round-12) —
    * ml_pack_sequences grades the contiguous-split layout (docs span bin
    * boundaries, waste ≈ 0 by construction); THIS grades the other real
    * packing regime: whole-example packing, where a doc goes entire into
    * the current 512-token bin if it fits, else a new bin opens — the
    * layout attention-mask-per-example training needs, whose WASTE is
    * the number a pipeline owner actually tunes (bin size vs doc-length
    * distribution). Packing runs within FIXED 64-doc shards (doc_id/64)
    * and the graded output is the per-source census (shards, bins, used
    * tokens, capacity, fill rate) — bounded per-shard state is exactly
    * how packing distributes at 100 TB (pack within shards, accept
    * boundary waste; an unbounded per-source sequential scan would not
    * shard). Docs longer than the bin clamp to 512 (the chunking tier —
    * ml_token_chunks — owns long-doc splitting upstream). All integer
    * arithmetic; the one division is the final fill_rate.
    *
    * 100-TB shape: one (source, shard) hash agg collecting ≤64-element
    * arrays, an array-local integer fold, then a source-sized census. */
  val mlPackGreedy = Q(
    "ml_pack_greedy",
    (spark, sfDir) => {
      val shards = Tables.documents(spark, sfDir)
        .select(col("source"), col("doc_id"),
          expr("CAST(doc_id DIV 64 AS BIGINT)").as("shard"),
          least(size(split(col("text"), " ", -1)).cast("long"), lit(512L))
            .as("t"))
        .groupBy("source", "shard")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("t"))))
          .as("s"))
        .select(col("source"),
          aggregate(col("s"),
            struct(lit(1L).as("bins"), lit(0L).as("cur"),
              lit(0L).as("used")),
            (st, e) => {
              val t = e.getField("t")
              val fits = st.getField("cur") + t <= 512L
              struct(
                when(fits, st.getField("bins"))
                  .otherwise(st.getField("bins") + 1L).as("bins"),
                when(fits, st.getField("cur") + t).otherwise(t).as("cur"),
                (st.getField("used") + t).as("used"))
            }).as("st"))
      shards.groupBy("source")
        .agg(count(lit(1)).as("n_shards"),
          sum(col("st.bins")).as("n_bins"),
          sum(col("st.used")).as("used_tokens"))
        .select(col("source"), col("n_shards"), col("n_bins"),
          col("used_tokens"),
          (col("n_bins") * 512).as("capacity"),
          round(col("used_tokens").cast("double")
            / (col("n_bins") * 512).cast("double"), 6).as("fill_rate"))
        .orderBy("source")
    },
    Some("""WITH RECURSIVE
                 d AS (SELECT source, doc_id,
                              CAST(doc_id // 64 AS BIGINT) AS shard,
                              least(CAST(len(string_split(text, ' '))
                                    AS BIGINT), 512) AS t
                       FROM documents),
                 i AS (SELECT *, row_number() OVER (PARTITION BY source, shard
                                                    ORDER BY doc_id) AS i
                       FROM d),
                 n AS (SELECT source, shard, count(*) AS n FROM i
                       GROUP BY source, shard),
                 rec(source, shard, i, bins, cur, used) AS (
                   SELECT source, shard, 0, CAST(1 AS BIGINT),
                          CAST(0 AS BIGINT), CAST(0 AS BIGINT)
                   FROM n
                   UNION ALL
                   SELECT r.source, r.shard, r.i + 1,
                          CASE WHEN r.cur + d.t <= 512 THEN r.bins
                               ELSE r.bins + 1 END,
                          CASE WHEN r.cur + d.t <= 512 THEN r.cur + d.t
                               ELSE d.t END,
                          r.used + d.t
                   FROM rec r JOIN i d ON d.source = r.source
                     AND d.shard = r.shard AND d.i = r.i + 1),
                 fin AS (SELECT r.source, r.bins, r.used
                         FROM rec r JOIN n ON r.source = n.source
                           AND r.shard = n.shard AND r.i = n.n)
            SELECT source, CAST(count(*) AS BIGINT) AS n_shards,
                   CAST(sum(bins) AS BIGINT) AS n_bins,
                   CAST(sum(used) AS BIGINT) AS used_tokens,
                   CAST(512 * sum(bins) AS BIGINT) AS capacity,
                   round(CAST(sum(used) AS DOUBLE)
                         / CAST(512 * sum(bins) AS DOUBLE), 6) AS fill_rate
            FROM fin GROUP BY source ORDER BY source"""))

  /** Length-bucketed batching vs arrival-order batching (round-15 — the
    * packing family's third regime, and the one dynamic-batching serving/
    * training stacks actually run): pad-to-batch-max batching wastes
    * batch_rows × (max_len − len) per doc, so bucketing docs by length
    * BEFORE batching is the standard padding-FLOPs cut. Graded head-to-
    * head on the same corpus and batch size (16): scheme 'arrival'
    * batches in doc_id order (doc_id is dense arrival order in the
    * fixtures — pinned by the spec); scheme 'bucketed' assigns each doc
    * row-locally to a FIXED token-length band (<32, <64, <96, ≥96 — all
    * four populated at every fixture SF, spec-pinned) and batches within
    * the band in (len, doc_id) order. Output per scheme: batches, padded
    * vs used tokens, waste ratio — the number that justifies the bucketing
    * stage in a pipeline (fixture corpora read ~25% arrival waste vs ~5%
    * bucketed). All integer arithmetic; the one division is the final
    * identical-operand waste ratio, rounded 6 on both engines.
    *
    * 100-TB shape: band assignment is row-local (fixed thresholds — NOT
    * ntile, which would need a corpus-wide sort); the per-band ordinal is
    * a 4-partition window here, which at real scale generalizes exactly
    * like ml_shuffle_batch's global ordinal: hash-prefix sub-buckets
    * inside each band, per-sub-bucket row_number, tiny offset aggregate
    * broadcast back. Batch census is one hash agg on the batch key. */
  val mlPackBucketed = Q(
    "ml_pack_bucketed",
    (spark, sfDir) => {
      val d = Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("t"))
      def census(batches: org.apache.spark.sql.DataFrame, scheme: String) =
        batches.groupBy("b")
          .agg(count(lit(1)).as("n"), max(col("t")).as("mx"),
            sum(col("t")).as("u"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("n") * col("mx")).as("padded_tokens"),
            sum(col("u")).as("used_tokens"))
          .select(lit(scheme).as("scheme"), col("n_batches"),
            col("padded_tokens"), col("used_tokens"),
            round((col("padded_tokens") - col("used_tokens")).cast("double")
              / col("padded_tokens").cast("double"), 6).as("waste_ratio"))
      val arrival = census(
        d.withColumn("b", expr("CAST(doc_id DIV 16 AS BIGINT)")), "arrival")
      val banded = d.withColumn("q",
        when(col("t") < 32, 0L).when(col("t") < 64, 1L)
          .when(col("t") < 96, 2L).otherwise(3L))
      val wBand = Window.partitionBy("q").orderBy("t", "doc_id")
      val bucketed = census(
        banded.withColumn("rn", row_number().over(wBand))
          // batch key unique ACROSS bands: band in the high bits (q << 40)
          // cannot collide until a band holds 2^40 batches ≈ 1.7e13 docs —
          // beyond any 100-TB corpus (ADVICE-r15: the old 1e6 stride
          // collided past 16M docs/band, contradicting the key's framing)
          .withColumn("b",
            col("q") * lit(1L << 40) + expr("CAST((rn - 1) DIV 16 AS BIGINT)")),
        "bucketed")
      arrival.unionByName(bucketed).orderBy("scheme")
    },
    Some("""WITH d AS (SELECT doc_id,
                              CAST(len(string_split(text, ' ')) AS BIGINT) AS t
                       FROM documents),
                 ab AS (SELECT CAST(doc_id // 16 AS BIGINT) AS b, t FROM d),
                 ag AS (SELECT b, count(*) AS n, max(t) AS mx, sum(t) AS u
                        FROM ab GROUP BY b),
                 asum AS (SELECT 'arrival' AS scheme,
                                 CAST(count(*) AS BIGINT) AS n_batches,
                                 CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
                                 CAST(sum(u) AS BIGINT) AS used_tokens
                          FROM ag),
                 q AS (SELECT doc_id, t,
                              CASE WHEN t < 32 THEN 0 WHEN t < 64 THEN 1
                                   WHEN t < 96 THEN 2 ELSE 3 END AS q
                       FROM d),
                 r AS (SELECT q, t, row_number() OVER (PARTITION BY q
                                      ORDER BY t, doc_id) AS rn
                       FROM q),
                 bb AS (SELECT q * 1099511627776 + CAST((rn - 1) // 16 AS BIGINT)
                                 AS b, t
                        FROM r),
                 bg AS (SELECT b, count(*) AS n, max(t) AS mx, sum(t) AS u
                        FROM bb GROUP BY b),
                 bsum AS (SELECT 'bucketed' AS scheme,
                                 CAST(count(*) AS BIGINT) AS n_batches,
                                 CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
                                 CAST(sum(u) AS BIGINT) AS used_tokens
                          FROM bg)
            SELECT scheme, n_batches, padded_tokens, used_tokens,
                   round(CAST(padded_tokens - used_tokens AS DOUBLE)
                         / CAST(padded_tokens AS DOUBLE), 6) AS waste_ratio
            FROM (SELECT * FROM asum UNION ALL SELECT * FROM bsum)
            ORDER BY scheme"""))

  /** Temperature-balanced dataset mix (T = 2): per-source sampling rates
    * ∝ sqrt(count) scaled to a 50% target volume, applied as a stateless
    * md5-threshold per doc — the standard multi-source rebalance before
    * pretraining. The rate table is a tiny per-source aggregate
    * (broadcast); selection itself is one embarrassingly-parallel scan —
    * no per-row shuffle, which is what makes hash sampling (vs reservoir
    * or sort-based) the only shape that works at 100 TB. */
  val mlDatasetMix = Q(
    "ml_dataset_mix",
    (spark, sfDir) =>
      graft.ops.Ops.datasetMix(Tables.documents(spark, sfDir),
          col("source"), col("doc_id"),
          targetFrac = 0.5, temperature = 2.0, saltPrefix = "mix")
        .select(col("doc_id"), col("source"), round(col("rate"), 6).as("rate"))
        .orderBy("doc_id"),
    Some("""WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
            w AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS wt FROM counts),
            tot AS (SELECT sum(wt) AS sw, sum(n) AS total FROM w),
            rates AS (
              SELECT source,
                     least(1.0, (wt / sw) * (CAST(total AS DOUBLE) * 0.5) / n) AS rate
              FROM w CROSS JOIN tot),
            thr AS (
              SELECT source, rate,
                     CAST(floor(rate * 16777216.0) AS BIGINT) AS n_thr
              FROM rates)
            SELECT d.doc_id, d.source, round(t.rate, 6) AS rate
            FROM documents d JOIN thr t ON d.source = t.source
            WHERE CAST(('0x' || substring(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                       AS BIGINT) < t.n_thr
            ORDER BY d.doc_id"""))

  /** Pad-and-mask batch prep (round-8 addition) — the OTHER standard
    * batch shape beside sequence packing (ml_pack_sequences): truncate
    * each document's token sequence to a fixed context of 32, right-pad
    * short ones with the `<pad>` sentinel, and emit the attention mask
    * (1 for real tokens, 0 for padding) every trainer consumes. Pure
    * per-row array algebra (slice / repeat / concat) — no explode, no
    * shuffle beyond the presentation sort; arrays are space-/bit-joined
    * to flat strings for the driver's hash compare (its contract forbids
    * nested output columns), exact on both engines (no floats). */
  val mlPadMask = Q(
    "ml_pad_mask",
    (spark, sfDir) => {
      val tk = split(col("text"), " ", -1)
      val nReal = least(size(tk), lit(32))
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          nReal.cast("bigint").as("n_real"),
          array_join(concat(slice(tk, 1, 32),
            array_repeat(lit("<pad>"), lit(32) - nReal)), " ").as("tokens"),
          array_join(concat(array_repeat(lit("1"), nReal),
            array_repeat(lit("0"), lit(32) - nReal)), "").as("mask"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
                 s AS (SELECT doc_id, tk,
                              least(len(tk), 32) AS n_real FROM t)
            SELECT doc_id, CAST(n_real AS BIGINT) AS n_real,
                   array_to_string(list_concat(tk[1:32],
                     list_transform(range(32 - n_real), x -> '<pad>')), ' ') AS tokens,
                   array_to_string(list_concat(
                     list_transform(range(n_real), x -> '1'),
                     list_transform(range(32 - n_real), x -> '0')), '') AS mask
            FROM s ORDER BY doc_id"""))

  /** Smoothed target encoding — the classic high-cardinality categorical
    * encoder (per-category mean of the target, shrunk toward the global
    * prior with strength m=10: enc = (sum_cat + m·prior)/(n_cat + m)):
    * rare categories collapse to the prior instead of memorizing noise.
    * Determinism: the sums are EXACT decimal (2-dp acctbal → decimal(18,2),
    * associative, partition-order-free); only the finished sums convert to
    * double, and the remaining ops are single IEEE divisions/multiplies on
    * identical operands — bit-identical across engines. round(4) on the
    * emitted encodings only.
    *
    * 100-TB shape: one hash agg on the category key + a broadcast 1-row
    * prior — the fit artifact (the encoder TABLE) is the output; applying
    * it to rows is a broadcast join against this tiny frame. */
  val mlTargetEncode = Q(
    "ml_target_encode",
    (spark, sfDir) => {
      import graft.util.D
      val cust = Tables.customer(spark, sfDir)
      val tot = cust.agg(
        D.dbl(sum(D.dec(col("c_acctbal"))).cast(D.Money)).as("sum_all"),
        count(lit(1)).as("n_all"))
      cust.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          D.dbl(sum(D.dec(col("c_acctbal"))).cast(D.Money)).as("sum_seg"))
        .crossJoin(broadcast(tot))
        .select(col("c_mktsegment"), col("n"),
          round(col("sum_seg") / col("n").cast("double"), 4).as("raw_mean"),
          round((col("sum_seg") +
              lit(10.0) * (col("sum_all") / col("n_all").cast("double"))) /
            (col("n").cast("double") + lit(10.0)), 4).as("enc_smoothed"))
        .orderBy("c_mktsegment")
    },
    Some(s"""WITH tot AS (SELECT ${graft.util.D.oDbl(
                 s"CAST(sum(${graft.util.D.oDec("c_acctbal")}) AS DECIMAL(18,2))")} AS sum_all,
                        count(*) AS n_all
                 FROM customer),
             seg AS (SELECT c_mktsegment, count(*) AS n,
                        ${graft.util.D.oDbl(
                 s"CAST(sum(${graft.util.D.oDec("c_acctbal")}) AS DECIMAL(18,2))")} AS sum_seg
                 FROM customer GROUP BY c_mktsegment)
            SELECT c_mktsegment, n,
                   round(sum_seg / CAST(n AS DOUBLE), 4) AS raw_mean,
                   round((sum_seg + 10.0 * (sum_all / CAST(n_all AS DOUBLE))) /
                         (CAST(n AS DOUBLE) + 10.0), 4) AS enc_smoothed
            FROM seg CROSS JOIN tot
            ORDER BY c_mktsegment"""))

  /** Importance (weight-proportional) subsampling (round-9) — the
    * dataset-mixing primitive that keeps a doc with probability equal to
    * its normalized quality weight (here n_chars / max n_chars — longer
    * docs kept more often), deterministically: the acceptance draw is
    * u = first-6-hex-digits(md5("is" + doc_id)) / 16^6, an exact rational
    * both engines compute bit-identically (ml_split_hash's engine-portable
    * md5 recipe; conv↔('0x'||h)::BIGINT are both exact integer parses).
    * No rand(seed) anywhere — a reshuffled 100-TB run reproduces the
    * same sample, and the sample composes with retries/speculative
    * execution. Keep iff u < w; emits kept docs with their u and w.
    *
    * 100-TB shape: the max weight is a 1-row broadcast; everything else
    * is a linear scan of stateless expressions. */
  val mlImportanceSample = Q(
    "ml_importance_sample",
    (spark, sfDir) => {
      val docs = Tables.documents(spark, sfDir)
      val mx = docs.agg(max(col("n_chars")).as("max_chars"))
      docs.crossJoin(broadcast(mx))
        .select(col("doc_id"),
          (col("n_chars").cast("double")
            / col("max_chars").cast("double")).as("w"),
          (conv(substring(md5(concat(lit("is"),
              col("doc_id").cast("string"))), 1, 6), 16, 10)
            .cast("bigint").cast("double") / lit(16777216.0)).as("u"))
        .filter(col("u") < col("w"))
        .orderBy("doc_id")
    },
    Some("""WITH mx AS (SELECT max(n_chars) AS max_chars FROM documents)
            SELECT doc_id, w, u FROM (
              SELECT doc_id,
                     CAST(n_chars AS DOUBLE) / CAST(max_chars AS DOUBLE) AS w,
                     CAST(('0x' || substring(md5('is' || CAST(doc_id AS VARCHAR)),
                            1, 6))::BIGINT AS DOUBLE) / 16777216.0 AS u
              FROM documents CROSS JOIN mx)
            WHERE u < w ORDER BY doc_id"""))

  /** Exact quartile bucketization per event type (round-9) — the feature
    * discretization stage (quantile binning) in its EXACT form: ntile(4)
    * over the (value, event_id) total order assigns integer buckets with
    * zero float risk (both engines define ntile identically: first
    * n mod k groups one larger), then per-bucket stats. Bucket count and
    * boundaries are integer/min-max exact; the mean runs through the
    * exact-decimal sum.
    *
    * 100-TB note: an exact global quantile needs a total order — this is
    * the demonstration form. At corpus scale the same query swaps ntile
    * for comparison against approx_percentile boundaries
    * (agg_approx_quantile is the graded sketch companion); per-type
    * windows here bound the sort per partition, the plan any engine
    * would run for per-group ranking. */
  val mlQuantileBucket = Q(
    "ml_quantile_bucket",
    (spark, sfDir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"), col("event_id"))
        .withColumn("bucket", ntile(4).over(w).cast("bigint"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo"),
          max(col("value")).as("hi"),
          D.sumDec(col("value")).as("sum_value"))
        .orderBy("event_type", "bucket")
    },
    Some(s"""SELECT event_type, bucket, count(*) AS n,
                   min(value) AS lo, max(value) AS hi,
                   ${D.oSumDec("value")} AS sum_value
            FROM (SELECT event_type, value,
                         CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS BIGINT) AS bucket
                  FROM events)
            GROUP BY event_type, bucket
            ORDER BY event_type, bucket"""))

  /** Nested subsample ladder (round-9) — scaling-law / learning-curve
    * experiment prep: assign every doc the SMALLEST split it belongs to
    * such that the 10% sample is a strict subset of the 25%, which is a
    * subset of the 50%, which is a subset of all (one hash draw per doc
    * compared against ascending thresholds — nesting is free by
    * construction, where independent per-split draws would have to
    * resample). Same engine-portable md5 rational as
    * ml_importance_sample; output is the census per split plus the
    * cumulative count the experiment actually consumes.
    *
    * 100-TB shape: stateless expressions + a 4-group agg. */
  val mlNestedSubsamples = Q(
    "ml_nested_subsamples",
    (spark, sfDir) => {
      val u = conv(substring(md5(concat(lit("ns"),
          col("doc_id").cast("string"))), 1, 6), 16, 10)
        .cast("bigint").cast("double") / lit(16777216.0)
      val w = Window.orderBy("split_frac")
        .rowsBetween(Window.unboundedPreceding, 0)
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          when(u < 0.10, 0.10).when(u < 0.25, 0.25)
            .when(u < 0.50, 0.50).otherwise(1.00).as("split_frac"))
        .groupBy("split_frac")
        .agg(count(lit(1)).as("n"))
        .withColumn("cum_n", sum(col("n")).over(w).cast("bigint"))
        .orderBy("split_frac")
    },
    Some("""WITH u AS (SELECT doc_id,
                              CAST(('0x' || substring(md5('ns' || CAST(doc_id AS VARCHAR)),
                                     1, 6))::BIGINT AS DOUBLE) / 16777216.0 AS u
                       FROM documents),
                 s AS (SELECT doc_id,
                              CAST(CASE WHEN u < 0.10 THEN 0.10
                                   WHEN u < 0.25 THEN 0.25
                                   WHEN u < 0.50 THEN 0.50
                                   ELSE 1.00 END AS DOUBLE) AS split_frac
                       FROM u),
                 c AS (SELECT split_frac, count(*) AS n
                       FROM s GROUP BY split_frac)
            SELECT split_frac, n,
                   CAST(sum(n) OVER (ORDER BY split_frac
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_n
            FROM c ORDER BY split_frac"""))

  /** One BPE merge-training step (round-9) — the tokenizer-training
    * primitive (Sennrich et al. 2016): count adjacent symbol pairs over
    * the corpus and surface the top merge candidates. Symbols here are
    * characters within whitespace tokens (the standard init state), the
    * pair counts come from the codegen'd char_ngrams_native bigram pass
    * (one O(bytes) loop per token — the text-tier r9 kernel reused), and
    * the cut is total-ordered (count DESC, pair). Production iterates
    * this step re-tokenizing with the merged vocab; each iteration is
    * exactly this one hash agg — the distributed-BPE shape.
    *
    * 100-TB shape: explode + one (pair) hash agg; top-k via ordered
    * limit over the vocabulary-sized aggregate. */
  val mlBpeMergeStep = Q(
    "ml_bpe_merge_step",
    (spark, sfDir) => {
      graft.functions.CharNgrams.register(spark)
      graft.queries.TextOps.docToks(spark, sfDir)
        .select(explode(col("tk")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(explode(expr("char_ngrams_native(tok, 2)")).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(10)
    },
    Some("""SELECT pair, n FROM (
              SELECT pair, count(*) AS n
              FROM (SELECT unnest(list_transform(
                             generate_series(1, length(tok) - 1),
                             i -> substring(tok, CAST(i AS INT), 2))) AS pair
                    FROM (SELECT unnest(string_split(text, ' ')) AS tok
                          FROM documents)
                    WHERE length(tok) >= 2)
              GROUP BY pair)
            ORDER BY n DESC, pair LIMIT 10"""))

  /** The frozen BPE merge table for ml_bpe_encode — trained by iterating
    * the ml_bpe_merge_step recipe (count adjacent symbol pairs weighted
    * by token multiplicity, merge the (count DESC, pair) winner with the
    * SAME non-overlapping double-replace semantics the encoder applies,
    * repeat), frozen as a deterministic literal in RANK order (a shipped
    * tokenizer applies a FIXED merge list regardless of the corpus it
    * encodes — freezing is the point, not a shortcut). Round-13
    * (VERDICT-r12 #9) retrained on the sf0.1 corpus to SATURATION: the
    * fixture vocabulary is 31 words over 24 letters, and after 89 rules
    * every vocabulary word is a single symbol — the aspirational ~256
    * rules cannot exist on this corpus (no adjacent pair survives rule
    * 89; training halts when the pair census is empty). Measured corpus
    * compression 4.51× at sf0.1 (was 2.54× at K=64), i.e. fertility
    * 1.0 symbols/word on in-vocabulary text — the saturated-tokenizer
    * regime, with out-of-vocabulary tokens still decomposing into
    * subword symbols through the same table. */
  private val bpeRules = Seq(
    ("e", "r"), ("i", "n"), ("o", "r"), ("s", "t"), ("o", "w"),
    ("t", "a"), ("l", "u"), ("m", "er"), ("a", "r"), ("p", "ar"),
    ("u", "p"), ("par", "k"), ("s", "park"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("g", "e"), ("mer", "ge"), ("b", "l"), ("bl", "e"),
    ("ta", "ble"), ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("c", "t"), ("ct", "or"), ("e", "ctor"), ("v", "ector"), ("a", "m"),
    ("e", "am"), ("r", "eam"), ("st", "ream"), ("a", "lu"), ("alu", "e"),
    ("v", "alue"), ("a", "ta"), ("d", "ata"), ("a", "l"), ("al", "l"),
    ("m", "all"), ("s", "mall"), ("j", "o"), ("jo", "in"), ("f", "i"),
    ("fi", "l"), ("fil", "t"), ("filt", "er"), ("b", "i"), ("bi", "g"),
    ("g", "r"), ("gr", "o"), ("gro", "up"), ("a", "s"), ("as", "h"),
    ("h", "ash"), ("c", "u"), ("cu", "st"), ("cust", "o"), ("custo", "mer"),
    ("or", "t"), ("s", "ort"), ("d", "er"), ("or", "der"), ("l", "ow"),
    ("s", "low"), ("in", "e"), ("l", "ine"), ("par", "t"), ("a", "st"),
    ("f", "ast"), ("h", "e"), ("r", "ow"), ("t", "he"), ("a", "g"),
    ("ag", "g"), ("e", "y"), ("k", "ey"), ("er", "y"), ("q", "u"),
    ("qu", "ery"), ("a", "n"), ("c", "an"), ("s", "can"), ("a", "t"),
    ("at", "c"), ("atc", "h"), ("b", "atch"), ("d", "up"))

  /** BPE APPLY (round-11, VERDICT-r10 #3) — the serving face of the
    * tokenizer whose training step is ml_bpe_merge_step: encode every
    * token by applying the frozen K=64 merge list in rank order. Symbol
    * sequences ride as single-space-delimited strings with sentinel
    * spaces at both ends (' h e l l o '); merge rule (a,b) is the string
    * rewrite ' a b ' → ' ab ', applied as TWO successive non-overlapping
    * left-to-right replace passes — pass 2 catches occurrences whose
    * leading delimiter was consumed by a preceding match (' a b a b '
    * merges only the first pair in one pass), and two passes reach the
    * rule's fixpoint because merging cannot create a new (a,b) adjacency:
    * |ab| > max(|a|,|b|) so the merged symbol equals neither operand.
    * Both engines' replace() scan identically (verified offline; the
    * hash compare grades it), so the K chained rewrites are
    * engine-portable with NO iteration construct. Per doc: initial char
    * count, encoded symbol count, compression ratio.
    *
    * 100-TB shape: the encode is a stateless chained-codegen expression
    * per token — no shuffle until the final doc_id agg; exactly how a
    * production Spark tokenizer pass runs (merge table broadcast as
    * literals, map-side encode, one agg). */
  /** The encode expression over a token column named `tok` — sentinel-
    * spaced char symbols, then the K frozen rules as double replace
    * passes each (see ml_bpe_encode's doc). Exposed for the spec that
    * pins the consumed-delimiter and rank-order semantics. */
  private[graft] def bpeEncodeExpr: org.apache.spark.sql.Column = {
    val seq0 = concat(lit(" "),
      array_join(expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
        " "), lit(" "))
    bpeRules.foldLeft(seq0) { case (c, (a, b)) =>
      val p = s" $a $b "; val r = s" $a$b "
      def rep(x: org.apache.spark.sql.Column) =
        call_function("replace", x, lit(p), lit(r))
      rep(rep(c))
    }
  }

  /** DuckDB spelling of the sentinel-spaced char-sequence init (over a
    * column named `tok`) — shared by both BPE oracles. */
  private val bpeSeq0Sql: String =
    "(' ' || array_to_string(list_transform(" +
      "generate_series(1, length(tok)), " +
      "i -> substring(tok, CAST(i AS INT), 1)), ' ') || ' ')"

  /** Fold a rule subset into the nested double-replace SQL over `base` —
    * one CTE stage's worth (the full 64-rule chain exceeds DuckDB's
    * 128-deep expression binder, so the oracles stage it 8 rules at a
    * time; the rewrite sequence is unchanged). */
  private def bpeChainSql(base: String,
      rules: Seq[(String, String)]): String =
    rules.foldLeft(base) { case (s, (a, b)) =>
      val p = s"' $a $b '"; val r = s"' $a$b '"
      s"replace(replace($s, $p, $r), $p, $r)"
    }

  /** Per-DISTINCT-token encode frame (tok, nc, ns) — round-12: the
    * 64-rule table runs ~128 chained replaces, and paying that per token
    * INSTANCE (480k at sf0.1) is wasted work when the encode is a pure
    * function of the token: encode each DISTINCT token once, then
    * equi-join the tiny result back to the instance stream — the
    * dictionary-encode shape a 100-TB tokenizer pass uses anyway
    * (measured: ml_bpe_vocab 1.40 s → per-vocab cost, instance join).
    * Values are identical by purity, so both BPE oracles stay on the
    * straightforward per-instance spelling. */
  private def bpeVocabEncoded(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    // Memoized per (session, corpus) since round 18: THREE
    // keys consume this frame (ml_bpe_encode, ml_bpe_vocab,
    // ml_tokenizer_fertility) and each was re-running the ~128-chained-
    // replace encode over every distinct token (the suite's single most
    // CPU-expensive expression tree — ml_bpe_vocab alone measured
    // 20.3 task-CPU-s at sf0.1). The encode is a pure function of the
    // corpus, so this is the same session-cache shape as docToks: the
    // materialized "encoded vocabulary" table a production tokenizer
    // pipeline writes once and joins everywhere. The frame is
    // vocabulary-sized (distinct tokens), not corpus-sized.
    graft.util.Memo.frame(spark,
        s"$sfDir:bpevocabenc:${Tables.tableKey(sfDir, "documents")}") {
      graft.queries.TextOps.docToks(spark, sfDir)
        .select(explode(col("tk")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
        .select(col("tok"), length(col("tok")).cast("bigint").as("nc"),
          split(trim(bpeEncodeExpr), " ").as("syms"))
    }

  val mlBpeEncode = Q(
    "ml_bpe_encode",
    (spark, sfDir) => {
      val enc = bpeVocabEncoded(spark, sfDir)
        .select(col("tok").as("vtok"), col("nc"),
          size(col("syms")).cast("bigint").as("ns"))
      graft.queries.TextOps.docToks(spark, sfDir)
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .filter(length(col("tok")) > 0)
        .join(broadcast(enc), col("tok") === col("vtok"))
        .groupBy("doc_id")
        .agg(sum(col("nc")).as("n_chars"), sum(col("ns")).as("n_symbols"))
        .select(col("doc_id"), col("n_chars"), col("n_symbols"),
          round(col("n_chars").cast("double")
            / col("n_symbols").cast("double"), 6).as("compression"))
        .orderBy("doc_id")
    },
    Some {
      // DuckDB's expression binder caps recursion at 128, so the 64-rule
      // chain (128 nested replaces) is staged through CTEs — 8 rules (16
      // replaces) per stage; the REWRITE SEQUENCE is identical, only the
      // SQL nesting is flattened. (Catalyst binds the full chain fine.)
      val stages = bpeRules.grouped(8).toSeq
      val ctes = stages.zipWithIndex.map { case (g, i) =>
        s"t${i + 1} AS (SELECT doc_id, tok, ${bpeChainSql("enc", g)} AS enc FROM t$i)"
      }.mkString(",\n               ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                        FROM documents),
               t0 AS (SELECT doc_id, tok, $bpeSeq0Sql AS enc
                      FROM toks WHERE length(tok) > 0),
               $ctes
          SELECT doc_id, CAST(sum(length(tok)) AS BIGINT) AS n_chars,
                 CAST(sum(len(string_split(trim(enc), ' '))) AS BIGINT)
                   AS n_symbols,
                 round(CAST(sum(length(tok)) AS DOUBLE)
                       / CAST(sum(len(string_split(trim(enc), ' ')))
                              AS DOUBLE), 6) AS compression
          FROM t${stages.size} GROUP BY doc_id ORDER BY doc_id"""
    })

  /** Encoded-symbol vocabulary census (round-11) — the third face of the
    * tokenizer story (train: ml_bpe_merge_step; encode: ml_bpe_encode;
    * audit: this): run the frozen merge table over the corpus and count
    * the resulting SYMBOLS — the distribution a tokenizer owner audits
    * to decide whether the merge list still fits the corpus (merged
    * symbols like 'er'/'in' should dominate; a drifted corpus shows the
    * mass back in single characters). Top-20 symbols under the (count
    * DESC, symbol) total order, with the corpus share (one identical
    * division, rounded).
    *
    * 100-TB shape (round-12): the chained-replace encode runs once per
    * DISTINCT token (dictionary encode — bpeVocabEncoded), instance
    * counts arrive as an exact integer weight through a vocabulary-sized
    * equi-join; one symbol-keyed hash agg + broadcast total; the top-20
    * cut is an ordered limit over the vocabulary-sized aggregate. */
  val mlBpeVocab = Q(
    "ml_bpe_vocab",
    (spark, sfDir) => {
      // instance counts × the per-distinct-token encode (bpeVocabEncoded):
      // each symbol of a token's encoding contributes that token's
      // instance count — exact integer weighting, identical values to the
      // per-instance spelling the oracle keeps
      val instCounts = graft.queries.TextOps.docToks(spark, sfDir)
        .select(explode(col("tk")).as("itok"))
        .filter(length(col("itok")) > 0)
        .groupBy("itok").agg(count(lit(1)).as("cnt"))
      val syms = bpeVocabEncoded(spark, sfDir)
        .join(instCounts, col("tok") === col("itok"))
        .select(explode(col("syms")).as("sym"), col("cnt"))
      val counts = syms.groupBy("sym").agg(sum(col("cnt")).as("n"))
      val total = syms.agg(sum(col("cnt")).as("t"))
      counts.crossJoin(broadcast(total))
        .select(col("sym"), col("n"),
          round(col("n").cast("double") / col("t").cast("double"), 6)
            .as("share"))
        .orderBy(col("n").desc, col("sym"))
        .limit(20)
    },
    Some {
      // staged CTE chain — see ml_bpe_encode's oracle for why (DuckDB's
      // 128-deep expression-binder cap vs the 64-rule chain)
      val stages = bpeRules.grouped(8).toSeq
      val ctes = stages.zipWithIndex.map { case (g, i) =>
        s"t${i + 1} AS (SELECT ${bpeChainSql("enc", g)} AS enc FROM t$i)"
      }.mkString(",\n               ")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                        FROM documents),
               t0 AS (SELECT tok, $bpeSeq0Sql AS enc
                      FROM toks WHERE length(tok) > 0),
               $ctes,
               syms AS (SELECT unnest(string_split(trim(enc), ' ')) AS sym
                        FROM t${stages.size}),
               c AS (SELECT sym, count(*) AS n FROM syms GROUP BY sym),
               t AS (SELECT count(*) AS t FROM syms)
          SELECT sym, n,
                 round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
          FROM c CROSS JOIN t
          ORDER BY n DESC, sym LIMIT 20"""
    })

  /** Per-language tokenizer fertility (round-12) — the fourth face of
    * the tokenizer story (train / encode / audit / FIT-BY-SLICE): run
    * the frozen 64-rule merge table over the corpus and report, per
    * fixture language, symbols-per-word (fertility — the number a
    * multilingual tokenizer owner checks before committing to a vocab:
    * a language whose fertility runs high is paying more context budget
    * per word) and chars-per-symbol (compression). ml_bpe_encode grades
    * the per-doc readout; this grades the per-slice aggregate that
    * drives the actual vocab-allocation decision. Counts are exact
    * integer sums; the two divisions are final, of identical operands,
    * rounded at 6 (the ml_bpe_encode discipline).
    *
    * 100-TB shape: the chained-replace encode runs once per DISTINCT
    * token (bpeVocabEncoded dictionary frame, broadcast), instances
    * stream through a map-side equi-join, then one language-sized hash
    * agg — no shuffle proportional to the encode cost. */
  val mlTokenizerFertility = Q(
    "ml_tokenizer_fertility",
    (spark, sfDir) => {
      val enc = bpeVocabEncoded(spark, sfDir)
        .select(col("tok").as("vtok"), col("nc"),
          size(col("syms")).cast("bigint").as("ns"))
      graft.queries.TextOps.docToks(spark, sfDir)
        .select(col("lang"), explode(col("tk")).as("tok"))
        .filter(length(col("tok")) > 0)
        .join(broadcast(enc), col("tok") === col("vtok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_words"), sum(col("nc")).as("n_chars"),
          sum(col("ns")).as("n_symbols"))
        .select(col("lang"), col("n_words"), col("n_symbols"),
          round(col("n_symbols").cast("double")
            / col("n_words").cast("double"), 6).as("fertility"),
          round(col("n_chars").cast("double")
            / col("n_symbols").cast("double"), 6).as("compression"))
        .orderBy("lang")
    },
    Some {
      // staged CTE chain — see ml_bpe_encode's oracle for why (DuckDB's
      // 128-deep expression-binder cap vs the 64-rule chain)
      val stages = bpeRules.grouped(8).toSeq
      val ctes = stages.zipWithIndex.map { case (g, i) =>
        s"t${i + 1} AS (SELECT lang, tok, ${bpeChainSql("enc", g)} AS enc FROM t$i)"
      }.mkString(",\n               ")
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
                        FROM documents),
               t0 AS (SELECT lang, tok, $bpeSeq0Sql AS enc
                      FROM toks WHERE length(tok) > 0),
               $ctes,
               m AS (SELECT lang, count(*) AS n_words,
                            sum(length(tok)) AS n_chars,
                            sum(len(string_split(trim(enc), ' ')))
                              AS n_symbols
                     FROM t${stages.size} GROUP BY lang)
          SELECT lang, CAST(n_words AS BIGINT) AS n_words,
                 CAST(n_symbols AS BIGINT) AS n_symbols,
                 round(CAST(n_symbols AS DOUBLE)
                       / CAST(n_words AS DOUBLE), 6) AS fertility,
                 round(CAST(n_chars AS DOUBLE)
                       / CAST(n_symbols AS DOUBLE), 6) AS compression
          FROM m ORDER BY lang"""
    })

  /** Hashed feature cross (round-9) — the classic wide-model feature:
    * cross two categorical columns (lang × source) and hash the crossed
    * token into a bounded bucket space (32) with the engine-portable md5
    * rational (ml_feature_hash's recipe — never a JVM-specific hash).
    * Output is the bucket census plus collision visibility (distinct
    * crossed values per bucket > 1 ⇒ collision, the accepted trade of
    * hashed crossing).
    *
    * 100-TB shape: stateless expressions + one 32-group agg. */
  val mlFeatureCross = Q(
    "ml_feature_cross",
    (spark, sfDir) =>
      Tables.documents(spark, sfDir)
        .select(concat(col("lang"), lit("_x_"), col("source")).as("crossed"))
        .select(col("crossed"),
          (conv(substring(md5(concat(lit("fx"), col("crossed"))), 1, 6), 16, 10)
            .cast("bigint") % 32).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("crossed")).as("n_values"))
        .orderBy("bucket"),
    Some("""SELECT bucket, count(*) AS n,
                   count(DISTINCT crossed) AS n_values
            FROM (SELECT crossed,
                         ('0x' || substring(md5('fx' || crossed), 1, 6))::BIGINT % 32
                           AS bucket
                  FROM (SELECT lang || '_x_' || source AS crossed
                        FROM documents))
            GROUP BY bucket ORDER BY bucket"""))

  /** AUC evaluation, integer-exact (round-9) — ROC-AUC of "value
    * predicts purchase" per day-of-week via the Mann-Whitney rank-sum
    * identity: AUC = (Σ_pos avgrank − n₊(n₊+1)/2) / (n₊n₋). Tie-aware
    * average ranks are kept in DOUBLED integer units (2·avgrank =
    * 2·rank_min + ties − 1, all BIGINT), so the whole statistic is exact
    * integer arithmetic until one final division — the evaluation-metric
    * determinism class of ts_forecast_error_naive, with zero float risk
    * even at ties. The rank window partitions by the report key (dow);
    * production partitions by whatever segment the eval reports on.
    * Evaluation-as-a-query beside text_lang_confusion (classification)
    * and ts_forecast_error_naive (regression). */
  val mlAucEval = Q(
    "ml_auc_eval",
    (spark, sfDir) => {
      val base = Tables.events(spark, sfDir)
        .select(dayofweek(col("ts")).cast("bigint").as("dow"),
          col("value").as("score"),
          (col("event_type") === "purchase").cast("bigint").as("label"))
      // delegates to the generic Ops.aucByGroup (round-9 API)
      graft.ops.Ops
        .aucByGroup(base, col("dow"), col("score"), col("label"))
        .select(col("graft_g").as("dow"), col("n_pos"), col("n_neg"),
          col("auc"))
        .orderBy("dow")
    },
    Some("""WITH base AS (SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, value AS score,
                                 CASE WHEN event_type = 'purchase'
                                      THEN 1 ELSE 0 END AS label
                          FROM events),
                 rnk AS (SELECT dow, label,
                                CAST(rank() OVER (PARTITION BY dow ORDER BY score)
                                     AS BIGINT) AS rk,
                                CAST(count(*) OVER (PARTITION BY dow, score)
                                     AS BIGINT) AS ties
                         FROM base),
                 g AS (SELECT dow,
                              CAST(sum(label) AS BIGINT) AS n_pos,
                              CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
                              CAST(sum(CASE WHEN label = 1
                                            THEN 2 * rk + ties - 1
                                            ELSE 0 END) AS BIGINT) AS s2
                       FROM rnk GROUP BY dow)
            SELECT dow, n_pos, n_neg,
                   CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                     / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                     AS auc
            FROM g ORDER BY dow"""))

  /** Calibration bins (round-9) — the reliability-curve companion to
    * ml_auc_eval: score deciles via ntile(10) over the (score, event_id)
    * total order, per bin the empirical positive rate (exact integer
    * ratio), the mean score (exact decimal sum), and the bin's score
    * span. A well-calibrated score has pos_rate tracking mean_score; the
    * fixture's value column is NOT calibrated — the query's job is to
    * show that, not to flatter it. */
  val mlCalibrationBins = Q(
    "ml_calibration_bins",
    (spark, sfDir) => {
      val w = Window.orderBy(col("score"), col("event_id"))
      Tables.events(spark, sfDir)
        .select(col("event_id"), col("value").as("score"),
          (col("event_type") === "purchase").cast("bigint").as("label"))
        .withColumn("bin", ntile(10).over(w).cast("bigint"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          (sum(col("label")).cast("double")
            / count(lit(1)).cast("double")).as("pos_rate"),
          D.sumDec(col("score")).as("sum_score"),
          min(col("score")).as("lo"), max(col("score")).as("hi"))
        .orderBy("bin")
    },
    Some(s"""SELECT bin, count(*) AS n,
                   CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS pos_rate,
                   ${D.oSumDec("score")} AS sum_score,
                   min(score) AS lo, max(score) AS hi
            FROM (SELECT CAST(ntile(10) OVER (ORDER BY value, event_id)
                              AS BIGINT) AS bin,
                         value AS score,
                         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                           AS label
                  FROM events)
            GROUP BY bin ORDER BY bin"""))

  /** Dataset card (round-9) — the single-row statistics summary a
    * curation pipeline publishes beside every released corpus (the
    * "datasheet" census): document/token/char totals, vocabulary size,
    * language count, exact-duplicate rate, mean/max document length.
    * Everything is exact integer arithmetic except the two unrounded
    * identical-integer divisions. One pass over the shared tokenized
    * frame plus its token explode — the whole card costs two hash aggs
    * at any corpus size. */
  val mlDatasetCard = Q(
    "ml_dataset_card",
    (spark, sfDir) => {
      val docs = graft.queries.TextOps.docToks(spark, sfDir)
      // vocabulary census from the shared term-count memo (round 18):
      // sum(cnt) ≡ count of token instances, count(*) ≡ countDistinct —
      // the old form re-exploded the corpus and ran a two-level distinct
      val vocab = graft.queries.TextOps.termCounts(spark, sfDir)
        .agg(sum(col("cnt")).as("n_tokens"),
          count(lit(1)).as("vocab_size"))
      docs.agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          countDistinct(col("lang")).as("n_langs"),
          sum(col("n_chars")).as("total_chars"),
          max(size(col("tk"))).cast("bigint").as("max_doc_tokens"))
        .crossJoin(broadcast(vocab))
        .select(col("n_docs"), col("n_langs"), col("total_chars"),
          col("n_tokens"), col("vocab_size"), col("max_doc_tokens"),
          (lit(1.0) - col("n_unique_texts").cast("double")
            / col("n_docs").cast("double")).as("dup_rate"),
          (col("n_tokens").cast("double") / col("n_docs").cast("double"))
            .as("mean_doc_tokens"))
    },
    Some("""WITH toks AS (SELECT term
                          FROM (SELECT unnest(string_split(lower(text), ' '))
                                         AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 v AS (SELECT count(*) AS n_tokens,
                              count(DISTINCT term) AS vocab_size
                       FROM toks),
                 d AS (SELECT count(*) AS n_docs,
                              count(DISTINCT md5(text)) AS n_unique_texts,
                              count(DISTINCT lang) AS n_langs,
                              CAST(sum(n_chars) AS BIGINT) AS total_chars,
                              CAST(max(len(string_split(text, ' '))) AS BIGINT)
                                AS max_doc_tokens
                       FROM documents)
            SELECT n_docs, n_langs, total_chars, n_tokens, vocab_size,
                   max_doc_tokens,
                   1.0 - CAST(n_unique_texts AS DOUBLE)
                     / CAST(n_docs AS DOUBLE) AS dup_rate,
                   CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)
                     AS mean_doc_tokens
            FROM d CROSS JOIN v"""))

  /** OOV rate by vocabulary size (round-9) — THE tokenizer-budget
    * metric: the fraction of token INSTANCES that fall outside the
    * top-K unigram vocabulary, for K = 10/20/30 in one pass (rank the
    * vocabulary once, cross the tiny K list, aggregate). Exact integer
    * counts; total-ordered vocabulary rank (count DESC, term); one
    * identical-integer division per row. Complements
    * text_bigram_coverage (pair level) at the unigram level where
    * vocab-size decisions are actually made. */
  val mlOovRate = Q(
    "ml_oov_rate",
    (spark, sfDir) => {
      val cnt = graft.queries.TextOps.termCounts(spark, sfDir)
        .withColumnRenamed("cnt", "n") // shared memo — round 18
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("term"))
      val ranked = cnt.withColumn("rk", row_number().over(w).cast("bigint"))
      import spark.implicits._
      val ks = Seq(10L, 20L, 30L).toDF("k")
      ranked.crossJoin(broadcast(ks))
        .groupBy("k")
        .agg(sum(col("n")).as("n_instances"),
          sum(when(col("rk") > col("k"), col("n")).otherwise(0L))
            .as("oov_instances"))
        .select(col("k"), col("n_instances"), col("oov_instances"),
          (col("oov_instances").cast("double")
            / col("n_instances").cast("double")).as("oov_rate"))
        .orderBy("k")
    },
    Some("""WITH cnt AS (SELECT term, count(*) AS n
                         FROM (SELECT unnest(string_split(lower(text), ' '))
                                        AS term
                               FROM documents)
                         WHERE length(term) > 0 GROUP BY term),
                 ranked AS (SELECT n,
                                   CAST(row_number() OVER (ORDER BY n DESC, term)
                                        AS BIGINT) AS rk
                            FROM cnt),
                 ks AS (SELECT CAST(unnest([10, 20, 30]) AS BIGINT) AS k)
            SELECT k, CAST(sum(n) AS BIGINT) AS n_instances,
                   CAST(sum(CASE WHEN rk > k THEN n ELSE 0 END) AS BIGINT)
                     AS oov_instances,
                   CAST(sum(CASE WHEN rk > k THEN n ELSE 0 END) AS DOUBLE)
                     / CAST(sum(n) AS DOUBLE) AS oov_rate
            FROM ranked CROSS JOIN ks
            GROUP BY k ORDER BY k"""))

  /** Mixture entropy of the training-data source distribution (round-10)
    * — the "how diverse is my mix" scalar the dataset card quotes: H =
    * −Σ p·ln p over per-source document shares, plus the effective
    * source count exp(H) (perplexity of the mix — 20 balanced sources
    * → 20.0, one dominant source → →1). Pairs with ml_dataset_mix
    * (which RESHAPES the mix) and ml_dataset_card (which reports raw
    * shares). Per-source contributions are leaf-quantized to exact
    * nano-units before the (small) sum, so entropy_nats is IEEE-identical
    * on both engines; exp, however, is only ~1-ulp accurate in libm (it is
    * NOT correctly rounded, unlike sqrt — ADVICE-r10), so
    * effective_sources is rounded to 6 places on both engines to absorb a
    * potential last-ulp platform divergence. exp > 0 always, so the
    * negative-zero round guard (D.nz) is not needed here.
    *
    * 100-TB shape: one source-keyed count agg + broadcast total; the
    * entropy fold runs over the SOURCE VOCABULARY (tiny), not the
    * corpus. */
  val mlMixtureEntropy = Q(
    "ml_mixture_entropy",
    (spark, sfDir) => {
      val counts = Tables.documents(spark, sfDir)
        .groupBy("source").agg(count(lit(1)).as("c"))
      val total = Tables.documents(spark, sfDir)
        .agg(count(lit(1)).as("t"))
      val p = col("c").cast("double") / col("t").cast("double")
      counts.crossJoin(broadcast(total))
        .select(round(-p * log(p) * lit(1e9), 0).cast("bigint").as("nano"))
        .agg(count(lit(1)).as("n_sources"), sum(col("nano")).as("s"))
        .select(col("n_sources"),
          (col("s").cast("double") / 1e9).as("entropy_nats"),
          round(exp(col("s").cast("double") / 1e9), 6)
            .as("effective_sources"))
    },
    Some("""WITH c AS (SELECT source, count(*) AS c FROM documents
                       GROUP BY source),
                 t AS (SELECT count(*) AS t FROM documents),
                 nano AS (SELECT CAST(round(
                     -(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                       * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9, 0)
                     AS BIGINT) AS nano
                   FROM c CROSS JOIN t)
            SELECT count(*) AS n_sources,
                   CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1e9
                     AS entropy_nats,
                   round(exp(CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1e9),
                         6) AS effective_sources
            FROM nano"""))

  /** Temperature-based multilingual sampling weights (round-12): the
    * published up/down-sampling rule for multilingual pretraining
    * (p_i^α / Σ p_j^α over language token mass) at α = 0.5 — chosen
    * because p^0.5 = sqrt(p) is the ONE libm-free exponent: sqrt is
    * IEEE-754 correctly rounded in both engines, where a general pow(x,
    * 0.7) is not cross-engine reproducible. Mass = total whitespace
    * tokens per language (doc counts are uniform by construction in the
    * fixtures — the token mass is what a real sampler weighs anyway);
    * p_raw is an exact-operand division; the temperature numerator is
    * leaf-quantized to nano-units (round(sqrt(p)·1e9) BIGINT, the
    * text_js_divergence recipe) so the normalizing sum is order-free
    * integer addition; p_temp and the per-language BOOST factor
    * (p_temp/p_raw — the up/down-sampling multiplier the data loader
    * applies) divide identical finished operands. Measured: en (largest)
    * downsampled ~0.7×, tail languages boosted ~1.3–1.6×.
    *
    * 100-TB shape: one language-keyed hash agg + two 1-row broadcast
    * totals; language cardinality-sized everywhere after the scan. */
  val mlSampleTemperature = Q(
    "ml_sample_temperature",
    (spark, sfDir) => {
      val base = Tables.documents(spark, sfDir)
        .groupBy("lang")
        .agg(sum(size(split(col("text"), " ", -1)).cast("bigint"))
          .as("mass"))
      val tot = base.agg(sum(col("mass")).as("tot"))
      val q = base.crossJoin(broadcast(tot))
        .withColumn("p_raw", col("mass").cast("double") / col("tot"))
        .withColumn("qv",
          round(sqrt(col("p_raw")) * lit(1e9), 0).cast("bigint"))
      val qtot = q.agg(sum(col("qv")).as("qt"))
      q.crossJoin(broadcast(qtot))
        .select(col("lang"), col("mass"),
          round(col("p_raw"), 6).as("p_raw"),
          round(col("qv").cast("double") / col("qt"), 6).as("p_temp"),
          round((col("qv").cast("double") / col("qt")) / col("p_raw"), 4)
            .as("boost"))
        .orderBy("lang")
    },
    Some("""WITH m AS (SELECT lang,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS mass
            FROM documents GROUP BY lang),
            t AS (SELECT sum(mass) AS tot FROM m),
            q AS (SELECT lang, mass,
                         CAST(mass AS DOUBLE) / tot AS p_raw,
                         CAST(round(sqrt(CAST(mass AS DOUBLE) / tot) * 1e9)
                              AS BIGINT) AS qv
                  FROM m CROSS JOIN t),
            qt AS (SELECT sum(qv) AS qtot FROM q)
            SELECT lang, mass, round(p_raw, 6) AS p_raw,
                   round(CAST(qv AS DOUBLE) / qtot, 6) AS p_temp,
                   round((CAST(qv AS DOUBLE) / qtot) / p_raw, 4) AS boost
            FROM q CROSS JOIN qt ORDER BY lang"""))

  /** GRPO-style group-relative advantage (round 18 — the RLHF-data-prep
    * family: reward postprocessing for policy-gradient training). Model:
    * each user is a PROMPT GROUP and its purchase events are sampled
    * completions with scalar rewards (`value`); the advantage of a
    * completion is its reward standardized WITHIN ITS GROUP,
    * (r − mean_g) / std_pop_g — the group-relative baseline that GRPO
    * substitutes for a learned critic. Degenerate groups (n < 2 or zero
    * variance — a prompt with no reward signal) are dropped, as a real
    * pipeline drops them.
    *
    * Determinism: rewards are lifted to exact integer cents, and mean /
    * variance come from exact BIGINT Σr and Σr² window sums — both
    * engines then run the IDENTICAL double sequence (s/n, ss/n − mean²),
    * so no accumulation-order noise exists for round(…,4) to absorb
    * (contrast ml_zscore, which grades the float-avg discipline).
    *
    * 100-TB shape: one shuffle on user_id serves all three window sums
    * (same partition spec → one exchange + one sort); no join, no
    * broadcast of a group-count-sized frame (groups scale with users —
    * a stats-join formulation would shuffle twice). */
  val mlGrpoAdvantage = Q(
    "ml_grpo_advantage",
    (spark, sfDir) => {
      val w = Window.partitionBy("user_id")
      Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("r_c"))
        .withColumn("group_n", count(lit(1)).over(w))
        .withColumn("mean_c", sum(col("r_c")).over(w).cast("double") / col("group_n"))
        .withColumn("var_c",
          sum(col("r_c") * col("r_c")).over(w).cast("double") / col("group_n")
            - col("mean_c") * col("mean_c"))
        .filter(col("group_n") >= 2 && col("var_c") > 0.0)
        .select(col("event_id"), col("user_id"), col("group_n"),
          (round((col("r_c").cast("double") - col("mean_c")) / sqrt(col("var_c")), 4)
            + lit(0.0)).as("advantage"))
        .orderBy("event_id")
    },
    Some("""WITH r AS (
              SELECT event_id, user_id,
                     CAST(ROUND(value * 100, 0) AS BIGINT) AS r_c
              FROM events WHERE event_type = 'purchase'),
            g AS (
              SELECT event_id, user_id, r_c,
                     CAST(count(*) OVER w AS BIGINT) AS group_n,
                     CAST(SUM(r_c) OVER w AS DOUBLE) AS s,
                     CAST(SUM(r_c * r_c) OVER w AS DOUBLE) AS ss
              FROM r WINDOW w AS (PARTITION BY user_id))
            SELECT event_id, user_id, group_n,
                   round((CAST(r_c AS DOUBLE) - s / group_n)
                         / sqrt(ss / group_n - (s / group_n) * (s / group_n)), 4)
                     + 0.0 AS advantage
            FROM g
            WHERE group_n >= 2
              AND ss / group_n - (s / group_n) * (s / group_n) > 0.0
            ORDER BY event_id"""))

  /** DPO preference-pair construction (round 18, RLHF-data-prep family):
    * per prompt group (user), pair the highest-reward completion
    * (chosen) against the lowest (rejected), dropping no-signal groups
    * (margin 0). Ties break on event_id ASC on both ends, so the pair is
    * a deterministic function of the data — the property a reproducible
    * preference dataset needs.
    *
    * 100-TB shape (plan-audited at sf0.001): Spark 4 rewrites each
    * rk=1 filter into a WindowGroupLimit pair — a PARTIAL map-side
    * top-1 per group BEFORE the exchange, then a final top-1 after —
    * so each branch shuffles at most one row per group, not the event
    * volume, and the chosen⋈rejected join of two group-sized frames
    * broadcasts. (The branches scan the fact twice, but each scan's
    * shuffle is group-bounded — cheaper at scale than materializing one
    * full double-window pass.) Margins ride as exact cents; no float
    * compares anywhere. */
  val mlPreferencePairs = Q(
    "ml_preference_pairs",
    (spark, sfDir) => {
      val ranked = Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          expr("CAST(ROUND(value * 100, 0) AS BIGINT)").as("r_c"))
        .withColumn("rk_hi", row_number().over(
          Window.partitionBy("user_id").orderBy(col("r_c").desc, col("event_id").asc)))
        .withColumn("rk_lo", row_number().over(
          Window.partitionBy("user_id").orderBy(col("r_c").asc, col("event_id").asc)))
      val chosen = ranked.filter(col("rk_hi") === 1)
        .select(col("user_id"), col("event_id").as("chosen_id"), col("r_c").as("c_c"))
      val rejected = ranked.filter(col("rk_lo") === 1)
        .select(col("user_id").as("u2"), col("event_id").as("rejected_id"),
          col("r_c").as("j_c"))
      chosen.join(rejected, col("user_id") === col("u2"))
        .filter(col("c_c") > col("j_c"))
        .select(col("user_id"), col("chosen_id"), col("rejected_id"),
          ((col("c_c") - col("j_c")).cast("double") / 100.0).as("margin"))
        .orderBy("user_id")
    },
    Some("""WITH r AS (
              SELECT event_id, user_id,
                     CAST(ROUND(value * 100, 0) AS BIGINT) AS r_c
              FROM events WHERE event_type = 'purchase'),
            k AS (
              SELECT event_id, user_id, r_c,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY r_c DESC, event_id ASC) AS rk_hi,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY r_c ASC, event_id ASC) AS rk_lo
              FROM r)
            SELECT c.user_id, c.event_id AS chosen_id, j.event_id AS rejected_id,
                   CAST(c.r_c - j.r_c AS DOUBLE) / 100.0 AS margin
            FROM (SELECT * FROM k WHERE rk_hi = 1) c
            JOIN (SELECT * FROM k WHERE rk_lo = 1) j ON c.user_id = j.user_id
            WHERE c.r_c > j.r_c
            ORDER BY c.user_id"""))

  def qs: Seq[Q] = Seq(mlMixtureEntropy, mlBpeEncode, mlBpeVocab,
    mlTokenizerFertility, mlMinmaxNorm, mlZscore, mlOnehot, mlLabelIndex,
    mlSplitHash, mlPipelineBatch, mlPipelineMllib, mlShuffleBatch, mlFeatureHash,
    mlStratifiedSplit, mlKfoldAssign, mlTokenChunks, mlReservoirGroup,
    mlClassWeights, mlPackSequences, mlPackGreedy, mlPackBucketed,
    mlDatasetMix, mlPadMask,
    mlTargetEncode,
    mlImportanceSample, mlQuantileBucket, mlNestedSubsamples, mlBpeMergeStep,
    mlFeatureCross, mlAucEval, mlCalibrationBins, mlDatasetCard, mlOovRate,
    mlSampleTemperature, mlGrpoAdvantage, mlPreferencePairs)
}
