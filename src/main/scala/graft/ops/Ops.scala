package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The user-facing operator API: generic DataFrame-in / DataFrame-out
  * transforms, parameterized on the caller's columns — the library surface
  * a pipeline author programs against. The graded fixture queries
  * (`graft.queries.*`) delegate to these where the operator is generic by
  * nature, so each transform has exactly ONE implementation: the registry
  * grades it against the DuckDB oracle, and callers reuse it on their own
  * schemas.
  *
  * Determinism contract (inherited from SURVEY §2's policy): every
  * transform that picks representatives or assigns ordinals does so under
  * an explicit total order — never `dropDuplicates` / unordered `first()`,
  * which are partition-order-dependent.
  *
  * 100-TB notes are per-method; the common theme: one shuffle keyed on
  * something high-cardinality, broadcast only provably-small sides, and
  * banding/bucketing instead of all-pairs anywhere quadratic threatens.
  */
object Ops {

  /** Memo-key prefix for the cached index frames (PQ codes, IVF/SemDeDup
    * assignments, residual codebooks). Three ingredients, each closing a
    * distinct staleness hole (ADVICE r8):
    *   - the ANALYZED plan's semanticHash — ties the entry to the exact
    *     input relation (different sfDir ⇒ different scan ⇒ different key);
    *   - the id/vec column expression strings — two calls over the same
    *     DataFrame but different columns must not share an entry (the
    *     plan hash alone cannot see which columns the index reads). The
    *     STRING form (Spark 4's Column hides the expression node) means
    *     a differently-spelled-but-equal column misses the cache — a
    *     rebuild, never a wrong hit;
    *   - the input files' (name, size, mtime) footprint — semanticHash
    *     covers the PATH but not the CONTENTS, and this project's driver
    *     regenerates fixtures in place (r7/r9 both did); without the
    *     footprint a mid-session regeneration would silently serve codes
    *     built from the old bytes. Also adds entropy against the 32-bit
    *     semanticHash colliding between two plans.
    * Callers append their numeric params after this prefix. */
  private[graft] def indexKey(df: DataFrame, cols: Column*): String = {
    val fs = df.inputFiles.sorted.map { uri =>
      val f = new java.io.File(new java.net.URI(uri).getPath)
      s"${f.getName}:${f.length}:${f.lastModified}"
    }.mkString(",")
    val colSig = cols.map(_.toString).mkString("|")
    // md5 of the footprint/column strings, not String.hashCode (round-13,
    // ADVICE r12's collision class): a 32-bit collision between two
    // regenerations would silently serve a stale index frame.
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    s"${df.queryExecution.analyzed.semanticHash()}:${h(colSig)}:${h(fs)}"
  }

  /** Exact content dedup: keep the first row (by `keepOrder`) of each
    * `contentKey` group. One shuffle keyed on the content hash; pass
    * `md5(payload)` (16 bytes) rather than the payload itself so the
    * shuffle moves hashes, not blobs.
    *
    * Output: input columns plus `h` (the content key). */
  def exactDedup(df: DataFrame, contentKey: Column, keepOrder: Column*): DataFrame = {
    require(keepOrder.nonEmpty,
      "exactDedup needs at least one keepOrder column (a total order " +
        "decides WHICH duplicate survives — determinism contract)")
    require(!df.columns.contains("h"),
      "exactDedup emits the content key as column 'h'; the input already " +
        "has an 'h' column, which would be silently overwritten")
    val w = Window.partitionBy("h").orderBy(keepOrder: _*)
    df.withColumn("h", contentKey)
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .drop("graft_rn")
  }

  /** Incremental (against-prior-corpus) dedup — the daily-batch
    * production shape (round-10): flag each `batch` row whose content
    * already exists in `prior` (exact content-hash probe of the prior's
    * DISTINCT hash set) or whose minhash band keys collide with any
    * prior row's (the LSH near-dup candidate probe, counted per batch
    * row); `admitted` = neither stage hit. Both stages are EQUI-joins —
    * incremental cost O(batch), the prior corpus is never self-joined.
    *
    * At 100 TB the prior side is the PERSISTED signature store: write
    * `md5(text)` + `minhashBandsArr(prior, ...)` once per corpus
    * generation (hashes and band keys, not text) and probe the daily
    * batch against it — this method is that plan with the store built
    * inline. Output: (id, h, exact_dup, n_band_hits, admitted), one row
    * per batch row. */
  def incrementalDedup(prior: DataFrame, batch: DataFrame, id: Column,
      text: Column, toks: Column, numHashes: Int = 8,
      bands: Int = 2): DataFrame = {
    val priorH = prior.select(md5(text).as("graft_ph")).distinct()
    val exact = batch.select(id.as("graft_bid"), md5(text).as("h"))
      .join(priorH, col("h") === col("graft_ph"), "left")
      .select(col("graft_bid"), col("h"),
        col("graft_ph").isNotNull.as("exact_dup"))
    val pb = minhashBandsArr(prior, id, toks, numHashes, bands)
      .select(col("id").as("graft_pid"), col("band_no").as("graft_pbn"),
        col("bkey").as("graft_pbk"))
    val hits = minhashBandsArr(batch, id, toks, numHashes, bands)
      .join(pb, col("band_no") === col("graft_pbn")
        && col("bkey") === col("graft_pbk"))
      .groupBy(col("id"))
      .agg(countDistinct(col("graft_pid")).as("graft_nbh"))
    exact.join(hits, col("graft_bid") === col("id"), "left")
      .select(col("graft_bid").as("id"), col("h"), col("exact_dup"),
        coalesce(col("graft_nbh"), lit(0L)).as("n_band_hits"))
      .withColumn("admitted", !col("exact_dup") && col("n_band_hits") === 0)
  }

  /** Key-skew census (round-10) — per-key group sizes bucketed into
    * power-of-two bands (integer CASE, engine-exact), with key/row
    * counts and the row fraction per band: the diagnostic consulted
    * before a big join/agg to decide salting or AQE skew handling. Two
    * hash aggs, both partial-agg-friendly; no per-key state beyond a
    * count. */
  def skewCensus(df: DataFrame, key: Column): DataFrame = {
    val sizes = df.groupBy(key.as("graft_k"))
      .agg(count(lit(1)).as("graft_n"))
    val n = col("graft_n")
    val bucketed = sizes.select(
      when(n === 1, "01").when(n <= 3, "02-03").when(n <= 7, "04-07")
        .when(n <= 15, "08-15").when(n <= 31, "16-31")
        .when(n <= 63, "32-63").otherwise("64+").as("bucket"), n)
    val total = df.agg(count(lit(1)).as("graft_total"))
    bucketed.groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"), sum(n).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_keys"), col("n_rows"),
        (col("n_rows").cast("double") / col("graft_total").cast("double"))
          .as("frac_rows"))
  }

  /** Deterministic per-group reservoir sample: exactly min(k, |group|)
    * rows per `group`, chosen by md5 rank over `id` — reproducible across
    * engines, runs, and partitionings; parallelizes freely (no sequential
    * reservoir state). Output: input columns plus `rk` (1-based bigint).
    *
    * 100-TB: one shuffle on the group key; per-group sort bounded by group
    * size, and the window emits k rows per group. For a pathological
    * single hot group, pre-split with a salt (see SURVEY §7.7). */
  def reservoirPerGroup(df: DataFrame, group: Column, id: Column, k: Int,
      saltPrefix: String = "r"): DataFrame = {
    val w = Window.partitionBy(group)
      .orderBy(md5(concat(lit(saltPrefix), id.cast("string"))), id)
    df.withColumn("rk", row_number().over(w).cast("bigint"))
      .filter(col("rk") <= k)
  }

  /** Context-window chunking: split `textCol` into `chunkSize`-token
    * chunks at `stride` (overlap = chunkSize − stride), content-addressed
    * by md5 — the LLM training-data shape. Row-local (no shuffle).
    * Output: `doc_id` (the caller's `id`), `chunk_no`, `n_chunk_tokens`,
    * `chunk_hash`. */
  def tokenChunks(df: DataFrame, id: Column, textCol: Column,
      chunkSize: Int = 64, stride: Int = 48): DataFrame =
    tokenChunksArr(df, id, split(textCol, " ", -1), chunkSize, stride)

  /** `tokenChunks` over a PRE-TOKENIZED array column — the shared-tokenize
    * path (round-6): the text tier derives every chunk plan from its one
    * memoized token frame instead of re-splitting per query. Chunk
    * semantics are identical by construction (the text variant delegates
    * here after one split). */
  def tokenChunksArr(df: DataFrame, id: Column, toksCol: Column,
      chunkSize: Int, stride: Int): DataFrame =
    df.select(id.as("doc_id"), toksCol.as("graft_toks"))
      .select(col("doc_id"), col("graft_toks"),
        explode(sequence(lit(1), greatest(size(col("graft_toks")), lit(1)),
          lit(stride))).as("graft_start"))
      .select(col("doc_id"),
        ((col("graft_start") - 1) / stride).cast("bigint").as("chunk_no"),
        size(slice(col("graft_toks"), col("graft_start"), lit(chunkSize)))
          .cast("bigint").as("n_chunk_tokens"),
        md5(array_join(slice(col("graft_toks"), col("graft_start"),
          lit(chunkSize)), " ")).as("chunk_hash"))

  /** Exact cosine top-k: the `k` nearest rows to `queryId`'s vector. The
    * single query vector is broadcast; the scan is linear (1-vs-all, the
    * shape that scales to any corpus); top-k is TakeOrdered (per-partition
    * heaps, no global sort). Ordering uses the ROUNDED similarity with id
    * tiebreak so the cut is total. Vectors must share dimensionality.
    * Zero-norm candidate rows are EXCLUDED (their cosine is 0/0 = NaN,
    * which Spark sorts above every number descending — a garbage row
    * would otherwise evict a true neighbor); a zero-norm query yields an
    * empty result. Output: `vec_id`, `cos_sim` (rounded 4dp). */
  def cosineTopK(df: DataFrame, id: Column, vec: Column, queryId: Any,
      k: Int): DataFrame = {
    import graft.util.V.{dbl, dot, norm}
    val q = df.filter(id === lit(queryId))
      .select(dbl(vec).as("graft_qe"), norm(dbl(vec)).as("graft_qn"))
    df.filter(id =!= lit(queryId))
      .select(id.as("vec_id"), dbl(vec).as("graft_e"),
        norm(dbl(vec)).as("graft_en"))
      .crossJoin(broadcast(q))
      .filter(col("graft_en") > 0.0 && col("graft_qn") > 0.0)
      .select(col("vec_id"),
        round(dot(col("graft_e"), col("graft_qe"))
          / (col("graft_en") * col("graft_qn")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Nearest as-of: for each left row, the `rightTs` closest in time
    * either direction (inclusive both ways; equidistant ties → earlier).
    * ONE shuffle+sort serves both directions: each right row enters the
    * union twice — tag 0 before left rows at equal ts (feeds the backward
    * `last`), tag 2 after (feeds the forward `first`); both windows share
    * the (key; ts, tag) sort, so Catalyst evaluates them in a single
    * WindowExec. Right rows are deduped on (key, ts). NULL keys follow
    * join semantics — a NULL-key left row gets `nearest_ts` NULL, never a
    * match against NULL-key right rows (window partitioning would
    * otherwise group NULLs together like GROUP BY). Gap comparison is in
    * epoch microseconds of the naive timestamps — run with a UTC session
    * timezone (the library default) so the ntz→instant cast is linear;
    * in a DST-shifting session timezone wall-clock gaps across a
    * transition are distorted by the offset change.
    * Output: left columns plus `nearest_ts`. */
  def asofNearest(left: DataFrame, leftKey: Column, leftTs: Column,
      right: DataFrame, rightKey: Column, rightTs: Column): DataFrame = {
    val leftCols = left.columns
    val base = left
      .withColumn("graft_key", leftKey)
      .withColumn("graft_ts", leftTs.cast("timestamp_ntz"))
      .withColumn("graft_tag", lit(1))
      .withColumn("graft_sts", lit(null).cast("timestamp_ntz"))
    val obs = right
      .select(rightKey.as("graft_key"), rightTs.cast("timestamp_ntz").as("graft_ts"))
      .filter(col("graft_key").isNotNull) // NULL never equi-matches
      .distinct()
    def tagged(t: Int) = {
      val cols = leftCols.map(c => lit(null).cast(base.schema(c).dataType).as(c))
      obs.select(cols :+ col("graft_key") :+ col("graft_ts") :+
        lit(t).as("graft_tag") :+ col("graft_ts").as("graft_sts"): _*)
    }
    val ord = Window.partitionBy("graft_key")
      .orderBy(col("graft_ts"), col("graft_tag"))
    val wBack = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base.unionByName(tagged(0)).unionByName(tagged(2))
      .withColumn("graft_back",
        last(when(col("graft_tag") === 0, col("graft_sts")), ignoreNulls = true)
          .over(wBack))
      .withColumn("graft_fwd",
        first(when(col("graft_tag") === 2, col("graft_sts")), ignoreNulls = true)
          .over(wFwd))
      .filter(col("graft_tag") === 1)
      .withColumn("nearest_ts",
        // NULL key or NULL timestamp → no match (a NULL ts sorts first in
        // the window order, where graft_fwd would otherwise fabricate the
        // partition's earliest observation as its "nearest")
        when(col("graft_key").isNull || col("graft_ts").isNull,
          lit(null).cast("timestamp_ntz"))
          .when(col("graft_back").isNull, col("graft_fwd"))
          .when(col("graft_fwd").isNull, col("graft_back"))
          .when(unix_micros(col("graft_ts").cast("timestamp"))
            - unix_micros(col("graft_back").cast("timestamp"))
            <= unix_micros(col("graft_fwd").cast("timestamp"))
            - unix_micros(col("graft_ts").cast("timestamp")),
            col("graft_back"))
          .otherwise(col("graft_fwd")))
      .select(leftCols.map(col) :+ col("nearest_ts"): _*)
  }

  /** MinHash signatures + LSH band keys for near-dup candidate generation:
    * `numHashes` md5-family min-hashes per id over its distinct tokens,
    * grouped into `bands` band keys. Two ids are CANDIDATES iff they share
    * a band key — downstream joins on (band_no, bkey) are EQUI-joins, so
    * no all-pairs comparison exists anywhere and the plan survives any
    * corpus size. numHashes must divide evenly into bands.
    * Output: `id`, `band_no`, `bkey` (long layout, one self-join covers
    * all bands). Min-hashes are BIGINTs (first 15 hex digits of md5) so
    * the min aggregate runs in HashAggregate's mutable buffer, not a
    * string SortAggregate. */
  def minhashBands(df: DataFrame, id: Column, textCol: Column,
      numHashes: Int = 8, bands: Int = 2): DataFrame =
    minhashBandsArr(df, id, split(textCol, " ", -1), numHashes, bands)

  /** Raw minhash signatures: one row per id with `graft_h0 ..
    * graft_h{n-1}` — the n seeded min-hashes (md5 prefix family) over the
    * distinct non-empty tokens. The shared signature kernel under both
    * the LSH banding (`minhashBandsArr`) and the signature-agreement
    * Jaccard estimator (text_minhash_jaccard_est): a hash-family change
    * lands in every consumer at once.
    *
    * ROW-LOCAL since round 13 (VERDICT-r12 #1): each signature is
    * `array_min` over a `transform` of the row's own token array — min
    * over the multiset equals min over the distinct set, so this is
    * value-identical to the former explode → distinct → grouped-min plan
    * while running ZERO shuffles (the old form shuffled every (id, token)
    * occurrence twice; first-touch cost of the dedup tier's memo builds
    * dropped ~4×). Same construction as `bandKeysRowLocal`, which
    * Round11OpsSpec proves value-equal to the exploded form on fixtures.
    * Rows whose token array is null/empty (after the non-empty filter)
    * are dropped, matching the old explode semantics; at 100 TB this is
    * the ideal shape — signatures are a map-only projection, and only
    * the banding equi-join shuffles.
    *
    * @param df  per-document frame — MUST carry exactly one row per `id`
    *            (HARD API PRECONDITION, ADVICE r13: the row-local rewrite
    *            computes each signature from its own row's tokens, so a
    *            duplicate id yields multiple divergent signature rows
    *            instead of one signature over the merged token multiset;
    *            callers with multi-row ids must collect_list/flatten to
    *            one row per id first)
    * @param id  the document identity column within `df`
    * @param toksCol the token-array column the signature hashes */
  def minhashSignatures(df: DataFrame, id: Column, toksCol: Column,
      numHashes: Int): DataFrame = {
    // Native digest kernel (round-13): one MD5 + bit extraction per
    // seeded hash instead of the conv(substring(md5)) string chain —
    // value-identical (Round13NativeSpec pins bit-equality), ~4× less
    // per-row CPU in the signature stage.
    graft.functions.Md5Prefix64.register(df.sparkSession)
    val nonEmpty = filter(toksCol, t => length(t) > 0)
    def h(s: Int) = array_min(transform(nonEmpty, t =>
      call_function("md5_prefix64_native", concat(lit(s + ":"), t))))
      .as(s"graft_h$s")
    df.select(id.as("graft_id") +: (0 until numHashes).map(h): _*)
      .filter(col("graft_h0").isNotNull)
  }

  /** Band keys from an ALREADY-COMPUTED signature frame (one row per id
    * with `graft_h*` columns — `minhashSignatures` output, possibly
    * memoized by the caller). The ONE band-key construction:
    * md5 over the '|'-joined hashes of each band's rows. */
  def minhashBandsFromSig(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      md5(concat_ws("|",
        (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => col(s"graft_h$i")): _*))
    }
    sig.select(col("graft_id").as("id"),
      posexplode(array(bandCols: _*)).as(Seq("band_no", "bkey")))
  }

  /** ROW-LOCAL minhash band keys (round-11): the same signatures and
    * band-key construction as minhashBandsArr, but computed as a scalar
    * expression over the row's own token array (array_min over the
    * hashed distinct tokens) instead of an explode + groupBy — min over
    * a set equals min over its multiset, so the keys are value-identical
    * (Round11OpsSpec proves it on fixtures). This is the STREAMING form:
    * banding a micro-batch needs no streaming aggregation state, just a
    * per-row expression — the incremental-dedup stream probe uses it
    * (StreamingParitySpec). Returns an array of (band_no, bkey) structs;
    * rows with NO nonempty tokens get null-keyed bands (the agg form
    * drops such ids entirely — filter first if that matters). */
  def minhashBandKeysExpr(toksCol: Column, numHashes: Int,
      bands: Int): Column = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val dt = array_distinct(filter(toksCol, t => length(t) > 0))
    def h(s: Int) = array_min(transform(dt, t =>
      conv(substring(md5(concat(lit(s + ":"), t)), 1, 15), 16, 10)
        .cast("bigint")))
    val rowsPerBand = numHashes / bands
    array((0 until bands).map { b =>
      struct(lit(b).as("band_no"),
        md5(concat_ws("|",
          (b * rowsPerBand until (b + 1) * rowsPerBand).map(h): _*))
          .as("bkey"))
    }: _*)
  }

  /** `minhashBands` over a pre-tokenized array column (shared-tokenize
    * path; the text variant delegates here after one split). */
  def minhashBandsArr(df: DataFrame, id: Column, toksCol: Column,
      numHashes: Int, bands: Int): DataFrame =
    minhashBandsFromSig(minhashSignatures(df, id, toksCol, numHashes),
      numHashes, bands)

  /** Distinct candidate pairs (id1 < id2) from a band-key frame — the
    * banded EQUI-join, factored out so callers that memoize the band (or
    * signature) frame don't pay the signature aggregation once per join
    * side (the plan-reuse note on `minhashCandidatePairs`). */
  def candidatePairsFromBands(b: DataFrame): DataFrame = {
    val l = b.select(col("id").as("id1"), col("band_no"), col("bkey"))
    val r = b.select(col("id").as("id2"),
      col("band_no").as("graft_bn2"), col("bkey").as("graft_bk2"))
    l.join(r, col("band_no") === col("graft_bn2")
        && col("bkey") === col("graft_bk2"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Candidate near-dup pairs from shared minhash bands: the banded
    * EQUI-join over `minhashBands` output. Returns distinct (id1, id2)
    * with id1 < id2; verify with an exact measure (Jaccard, edit
    * distance) on THESE pairs only — never all pairs.
    *
    * Plan note: the self-join references the signature subtree twice and
    * Catalyst has no automatic reuse, so the tokenize→minhash aggregation
    * computes twice per call. At corpus scale, `Memo.frame` the bands at
    * the call site (this generic API has no cache key of its own, and a
    * silent internal cache would leak across invocations). */
  def minhashCandidatePairs(df: DataFrame, id: Column, textCol: Column,
      numHashes: Int = 8, bands: Int = 2): DataFrame =
    minhashCandidatePairsArr(df, id, split(textCol, " ", -1),
      numHashes, bands)

  /** `minhashCandidatePairs` over a pre-tokenized array column
    * (shared-tokenize path; the text variant delegates here). */
  def minhashCandidatePairsArr(df: DataFrame, id: Column, toksCol: Column,
      numHashes: Int, bands: Int): DataFrame =
    candidatePairsFromBands(
      minhashBandsArr(df, id, toksCol, numHashes, bands))

  /** Rolling z-score anomaly detection: each row's `value` against the
    * mean/stddev of its trailing `frameRows`-row window per `part`
    * (ordered by `order` — pass a TOTAL order). Frame sums run in exact
    * decimal (engine-portable, evaluation-order-independent); z is NULL
    * for windows with n < 2 or zero variance. `value` must carry ≤ 2
    * decimal digits (the library's money/measurement convention).
    * Output: input columns plus `n` and `z`. */
  def movingZscore(df: DataFrame, part: Column, order: Seq[Column],
      value: Column, frameRows: Int = 5): DataFrame = {
    val w = Window.partitionBy(part).orderBy(order: _*)
      .rowsBetween(-(frameRows - 1), 0)
    val dec = value.cast(graft.util.D.Money)
    val s = sum(dec).over(w).cast(graft.util.D.Money).cast("double")
    val sq = sum((dec * dec).cast(graft.util.D.Money4)).over(w)
      .cast(graft.util.D.Money4).cast("double")
    val n = count(lit(1)).over(w).cast("double")
    df.withColumn("graft_sum", s).withColumn("graft_sumsq", sq)
      .withColumn("graft_n", n)
      .withColumn("graft_var",
        when(col("graft_n") > 1.0,
          (col("graft_sumsq") - col("graft_sum") * col("graft_sum") / col("graft_n"))
            / (col("graft_n") - 1.0)))
      .withColumn("z",
        when(col("graft_n") > 1.0 && col("graft_var") > 0.0,
          (value - col("graft_sum") / col("graft_n")) / sqrt(col("graft_var"))))
      .withColumn("n", col("graft_n").cast("bigint"))
      .drop("graft_sum", "graft_sumsq", "graft_n", "graft_var")
  }

  /** Sequence packing by sequential fill: assign each row to a fixed
    * `binSize`-token context bin via the exclusive running token sum
    * within its `group` (ordered by `order` — pass a TOTAL order). A row
    * straddling a boundary belongs to the bin its first token lands in.
    * Packing is windowed PER GROUP so it parallelizes across groups/shards
    * instead of forcing one global sort. Output: input columns plus
    * `n_tokens`, `bin`, `bin_offset`. */
  def packSequences(df: DataFrame, group: Column, order: Column,
      nTokens: Column, binSize: Int = 512): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens", nTokens.cast("bigint"))
      .withColumn("graft_cum", sum("n_tokens").over(w) - col("n_tokens"))
      .withColumn("bin",
        floor(col("graft_cum").cast("double") / binSize).cast("bigint"))
      .withColumn("bin_offset",
        (col("graft_cum") - lit(binSize.toLong)
          * floor(col("graft_cum").cast("double") / binSize)).cast("bigint"))
      .drop("graft_cum")
  }

  /** Running COUNT(DISTINCT `value`) per `part` under `order` — no engine
    * supports DISTINCT in a running frame; the O(1)-state decomposition is
    * a first-occurrence marker (row_number()=1 per (part, value)) plus a
    * running sum of markers. NULL values are excluded, matching SQL
    * COUNT(DISTINCT) semantics. Output: input columns plus `n_distinct`. */
  def runningDistinct(df: DataFrame, part: Column, value: Column,
      order: Column*): DataFrame = {
    val wFirst = Window.partitionBy(part, value).orderBy(order: _*)
    val wRun = Window.partitionBy(part).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("graft_first",
        when(value.isNotNull && row_number().over(wFirst) === 1, 1L)
          .otherwise(0L))
      .withColumn("n_distinct", sum("graft_first").over(wRun).cast("bigint"))
      .drop("graft_first")
  }

  /** Forward attribution/conversion count: for every row, the number of
    * rows satisfying `isTarget` with the same `key` whose `eventUs`
    * (microseconds, any monotone long clock) lies in the CLOSED interval
    * [us + fromUs, us + toUs] — a VALUE-range window frame, so co-timed
    * events are handled by value and the result is partition-order
    * independent. Pass fromUs = 1 (the default) to exclude co-timed
    * events ("strictly after" on an integer clock); fromUs = 0 counts the
    * row itself when it satisfies `isTarget`.
    * Output: input columns plus `n_in_window`. */
  def conversionWindow(df: DataFrame, key: Column, eventUs: Column,
      isTarget: Column, fromUs: Long = 1L, toUs: Long): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col("graft_us"))
      .rangeBetween(fromUs, toUs)
    df.withColumn("graft_us", eventUs)
      .withColumn("n_in_window",
        coalesce(sum(when(isTarget, 1L).otherwise(0L)).over(w), lit(0L))
          .cast("bigint"))
      .drop("graft_us")
  }

  /** Periodic retention cohorts: users grouped by the truncated period of
    * their first event; for each (cohort, period-offset) the count of
    * users active in that period. Two user-keyed aggregates and one join.
    * Output: `cohort_week`, `week_offset`, `n_users`. */
  def retentionCohort(df: DataFrame, user: Column, ts: Column): DataFrame = {
    val first = df.groupBy(user.as("graft_u"))
      .agg(date_trunc("week", min(ts)).cast("timestamp_ntz").as("cohort"))
    val act = df.select(user.as("graft_u"),
      date_trunc("week", ts).cast("timestamp_ntz").as("graft_wk")).distinct()
    first.join(act, Seq("graft_u"))
      .groupBy(col("cohort").as("cohort_week"),
        (datediff(col("graft_wk"), col("cohort")) / 7).cast("bigint")
          .as("week_offset"))
      .agg(countDistinct("graft_u").as("n_users"))
  }

  /** Temperature-balanced multi-source sampling: per-`group` rates
    * ∝ count^(1/temperature), scaled so the expected selected volume is
    * `targetFrac` of the corpus, applied as a stateless md5 threshold on
    * `id`. The rate table is a tiny broadcast; selection is one
    * embarrassingly-parallel scan — the only sampling shape that works at
    * 100 TB. Output: selected rows plus `rate`. */
  def datasetMix(df: DataFrame, group: Column, id: Column,
      targetFrac: Double = 0.5, temperature: Double = 2.0,
      saltPrefix: String = "mix"): DataFrame = {
    // sqrt(), not pow(x, 0.5), at the default T=2: they differ in the last
    // ulp on some inputs, and the engine-portability contract pins sqrt
    def w(c: Column) =
      if (temperature == 2.0) sqrt(c.cast("double"))
      else pow(c.cast("double"), 1.0 / temperature)
    val counts = df.groupBy(group.as("graft_g")).agg(count(lit(1)).as("graft_n"))
    val tot = counts.agg(
      sum(w(col("graft_n"))).as("graft_sw"),
      sum("graft_n").as("graft_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("graft_g"),
        least(lit(1.0),
          (w(col("graft_n")) / col("graft_sw"))
            * (col("graft_total").cast("double") * targetFrac)
            / col("graft_n").cast("double")).as("rate"))
      // NUMERIC threshold, not a hex-string compare: at rate = 1.0 the
      // threshold is 16777216 whose hex is SEVEN digits, and lpad(_, 6)
      // TRUNCATES — a fully-kept group would silently retain only the
      // md5 prefixes starting with '0' (~1/16). conv() of the 6-hex-digit
      // prefix compared as a number has no such edge.
      .withColumn("graft_thr",
        floor(col("rate") * 16777216.0).cast("bigint"))
    df.withColumn("graft_g", group)
      .join(broadcast(rates), Seq("graft_g"))
      .filter(conv(substring(md5(concat(lit(saltPrefix), id.cast("string"))),
        1, 6), 16, 10).cast("bigint") < col("graft_thr"))
      .drop("graft_g", "graft_thr")
  }

  /** Content-addressed chunk manifest for large payloads: `chunkBytes`
    * ranges with (chunk_no, byte_offset, chunk_len, chunk_hash) per row —
    * row-local explode, no shuffle; how a blob column gets processed
    * without one task holding a whole object. Offsets/lengths are measured
    * in the payload's own units: CHARACTERS for a string column (== bytes
    * only for ASCII payloads — the fixture-pinned case, MultimodalSpec),
    * bytes for a binary column. For multibyte text, pass the binary cast
    * so the advertised ranges are fetchable byte ranges. Output: `id` (as
    * `doc_id`), chunk columns. */
  def chunkManifest(df: DataFrame, id: Column, payload: Column,
      chunkBytes: Int = 100): DataFrame =
    df.select(id.as("doc_id"), payload.as("graft_p"),
        length(payload).as("graft_n"),
        // guarded ascending sequence (sequence(1, 0) would step BACKWARD)
        explode(sequence(lit(1),
          greatest(ceil(length(payload).cast("double") / chunkBytes).cast("int"),
            lit(1)))).as("graft_c"))
      .filter((col("graft_c") - 1) * chunkBytes < col("graft_n"))
      .select(col("doc_id"),
        (col("graft_c") - 1).cast("bigint").as("chunk_no"),
        ((col("graft_c") - 1) * chunkBytes).cast("bigint").as("byte_offset"),
        least(lit(chunkBytes), col("graft_n") - (col("graft_c") - 1) * chunkBytes)
          .cast("bigint").as("chunk_len"),
        md5(col("graft_p").substr(((col("graft_c") - 1) * chunkBytes + 1).cast("int"),
          lit(chunkBytes))).as("chunk_hash"))

  // ---- parameterized vector tier (round-5 verdict #4) -----------------
  // The graded queries (vec_kmeans_step, vec_pq_quantize, vec_pq_adc_topk)
  // are FIXED INSTANTIATIONS of these general APIs; the former in-query
  // constants (k=8, M=4, 16-dim subspaces, 16 seeds) are parameters here.
  // Seeding stays deterministic-by-construction (`id < k` / `id <
  // numSeeds`) so results are engine-reproducible; a production caller
  // seeds from a sampled + memoized frame instead — same plan shape.

  /** One distributed Lloyd (k-means) refinement step over `vec` with `k`
    * centroids seeded from `id < k`: broadcast centroid table, per-vector
    * squared-L2 arg-min window, then posexplode → (cluster, dim) hash agg
    * for the mean update — map-side combinable, one shuffle of k·d
    * partials per partition at any corpus size. Output: (cluster, dim
    * 1-based bigint, n_members, centroid_mean raw double). Distances run
    * through the codegen'd `l2sq_native`. */
  def kmeansStep(df: DataFrame, id: Column, vec: Column, k: Int): DataFrame = {
    graft.functions.L2Sq.register(df.sparkSession)
    val v = df.select(id.as("vec_id"), graft.util.V.dbl(vec).as("e"))
    val cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
    val assigned = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), expr("l2sq_native(e, c)").as("d2"))
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
      .select("vec_id", "cid")
    assigned.join(v, Seq("vec_id"))
      .select(col("cid"), posexplode(col("e")))
      .groupBy(col("cid").as("cluster"),
        (col("pos") + 1).cast("bigint").as("dim"))
      .agg(count(lit(1)).as("n_members"),
        avg(col("col")).as("centroid_mean"))
  }

  /** Product-quantization subspace distances: split `vec` into `m`
    * contiguous `subDim`-wide subspaces, compare every (vector, subspace)
    * slice against the seeded codebook (sub-vectors of `id < numSeeds`),
    * and return (vec_id, sub, seed, d2). The codebook is tiny and
    * BROADCAST; distances run through the codegen'd `l2sq_native`; the
    * in-plan guards fail loudly on a wrong-dim corpus or an incomplete
    * seed set instead of silently truncating (ADVICE r5). Shared
    * foundation of `pqQuantize` and `pqAdcTopK`. */
  def pqDistances(df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, numSeeds: Int, fitIters: Int = 0): DataFrame = {
    graft.functions.L2Sq.register(df.sparkSession)
    val dim = m * subDim
    val v = df.select(id.as("vec_id"), graft.util.V.dbl(vec).as("e"))
      .where(coalesce(assert_true(size(col("e")) === dim,
        lit(s"pq: embedding dim != $dim")), lit(true)))
    val subs = v.select(col("vec_id"),
      posexplode(array((0 until m).map(s =>
        slice(col("e"), s * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))
    val seeds0 = subs.filter(col("vec_id") < numSeeds)
      .select(col("vec_id").as("seed"), col("sub").as("ssub"),
        col("sv").as("cw"))
    // Optional Lloyd refinement of the seeded codebook (VERDICT-r9 #4):
    // same per-subspace assign→elementwise-mean step as the residual-PQ
    // path (empty cells keep the old codeword). Float means are
    // partition-order-dependent, so fitted codebooks are for the
    // MEASUREMENT path (VecBench) only — graded oracle queries stay at
    // fitIters=0 (seeded, deterministic). Memoized: tiny
    // (m·numSeeds rows) but each step re-walks an assignment scan.
    val seeds = if (fitIters == 0) seeds0
    else graft.util.Memo.frame(df.sparkSession,
        s"pq-codebook:${indexKey(df, id, vec)}:" +
          s"$m:$subDim:$numSeeds:$fitIters") {
      (0 until fitIters).foldLeft(seeds0) { (cb, _) =>
        val wf = Window.partitionBy("vec_id", "sub")
          .orderBy(col("cd2"), col("seed"))
        val members = subs.join(broadcast(cb), col("sub") === col("ssub"))
          .select(col("vec_id"), col("sub"), col("seed"), col("sv"),
            expr("l2sq_native(sv, cw)").as("cd2"))
          .withColumn("graft_rn", row_number().over(wf))
          .filter(col("graft_rn") === 1)
        val updated = members
          .select(col("sub"), col("seed"), posexplode(col("sv")))
          .groupBy("sub", "seed", "pos")
          .agg(avg(col("col")).as("mv"))
          .groupBy(col("sub").as("usub"), col("seed").as("useed"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
            .as("pm"))
          .select(col("usub"), col("useed"),
            expr("transform(pm, x -> x.mv)").as("ncw"))
        cb.join(updated,
            cb("ssub") === col("usub") && cb("seed") === col("useed"), "left")
          .select(cb("ssub"), cb("seed"),
            coalesce(col("ncw"), cb("cw")).as("cw"))
      }
    }
    // The completeness guards ride on the MAIN path, not the seed frame:
    // an assertion attached to seeds rows never evaluates when the
    // codebook is entirely missing (empty frame → no rows → no check),
    // which is the exact worst case it exists for (ADVICE r6). Two layers
    // because AQE empty-relation propagation prunes an INNER join's
    // stream side when the broadcast side turns out empty — any in-plan
    // check below that join would be skipped with it:
    //  1. partial codebook: ungrouped countDistinct always yields one row,
    //     the broadcast crossJoin tags every subs row, assert fires;
    //  2. fully absent codebook: the seed join is LEFT (same row
    //     multiplicity as inner when complete — every subs row matches
    //     its subspace's codewords), so an empty seed side keeps subs
    //     rows with a null codeword and the null-assert fires instead of
    //     the whole subtree being optimized away.
    val nSeeds = seeds.select(countDistinct(col("seed")).as("graft_ns"))
    val subsChecked = subs.crossJoin(broadcast(nSeeds))
      .where(coalesce(assert_true(col("graft_ns") === numSeeds,
        lit(s"pq: seed codebook incomplete (need $numSeeds distinct seed " +
          "vectors)")), lit(true)))
      .drop("graft_ns")
    subsChecked.join(broadcast(seeds), col("sub") === col("ssub"), "left")
      .where(coalesce(assert_true(col("cw").isNotNull,
        lit("pq: seed codebook empty")), lit(true)))
      .select(col("vec_id"), col("sub"), col("seed"),
        expr("l2sq_native(sv, cw)").as("d2"))
  }

  /** PQ encoding: per (vector, subspace) the nearest codeword id, pivoted
    * to one row per vector — `code_0 .. code_{m-1}` plus `pq_err`, the
    * FIXED-ORDER sum of the m subspace minima (IEEE addition is not
    * associative; a left-to-right fold is reproducible across engines).
    * One scan, no data shuffle until the per-vector regroup. */
  def pqQuantize(df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, numSeeds: Int): DataFrame = {
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2"), col("seed"))
    val best = pqDistances(df, id, vec, m, subDim, numSeeds)
      .withColumn("graft_rn", row_number().over(w))
      .filter(col("graft_rn") === 1)
    def codeOf(s: Int) =
      max(when(col("sub") === s, col("seed"))).cast("bigint")
    def errOf(s: Int) = max(when(col("sub") === s, col("d2")))
    val codeCols = (0 until m).map(s => codeOf(s).as(s"code_$s"))
    val err = (0 until m).map(errOf).reduceLeft(_ + _).as("pq_err")
    best.groupBy("vec_id")
      .agg(codeCols.head, (codeCols.tail :+ err): _*)
  }

  /** SemDeDup-shaped semantic dedup census (round-5 verdict #8): cluster
    * the vectors with `k` seeded centroids (`id < k`, the kmeansStep
    * assignment), compare pairs WITHIN each cluster only, flag the
    * higher-id member of any pair whose cosine ≥ `simThreshold` as a
    * semantic duplicate, and emit the per-cluster census
    * (cluster, n_members, n_dups, n_survivors).
    *
    * 100-TB shape: this is exactly why SemDeDup clusters first — the
    * quadratic pair stage is bounded to cluster granularity (the
    * within-cluster self-join is an EQUI-join on the cluster id, and
    * production picks k ∝ n so cluster sizes stay constant); the census
    * aggregates shuffle on ids only. Cosine runs through the codegen'd
    * `cosine_native` (bit-identical to the HOF fold, NativeDotSpec). */
  def semanticDedupCensus(df: DataFrame, id: Column, vec: Column,
      k: Int, simThreshold: Double): DataFrame = {
    graft.functions.L2Sq.register(df.sparkSession)
    graft.functions.CosineSim.register(df.sparkSession)
    val v = df.select(id.as("vec_id"), graft.util.V.dbl(vec).as("e"))
    val cent = v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    // assignment memoized (vec_id, cid — 2 longs/row): the
    // plan references it from BOTH self-join sides and the census agg,
    // and without caching Spark recomputes the n×k argmin per reference
    // (the round-8 plan sweep measured 16 corpus scans here). The vector
    // payloads deliberately stay OUT of the cache — the self-join re-reads
    // them from the columnar source, which at 100 TB is cheaper than
    // pinning n·d doubles in executor memory.
    val assigned = graft.util.Memo.frame(df.sparkSession,
        s"semdedup-assign:${indexKey(df, id, vec)}:$k") {
      val w = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
      v.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), expr("l2sq_native(e, c)").as("d2"))
        .withColumn("graft_rn", row_number().over(w))
        .filter(col("graft_rn") === 1)
        .select("vec_id", "cid")
    }
    val members = assigned.join(v, Seq("vec_id"))
    val l = members.select(col("cid").as("c1"), col("vec_id").as("v1"),
      col("e").as("e1"))
    val r = members.select(col("cid").as("c2"), col("vec_id").as("v2"),
      col("e").as("e2"))
    val dups = l.join(r, col("c1") === col("c2") && col("v1") < col("v2"))
      .filter(expr("cosine_native(e1, e2)") >= simThreshold)
      .select(col("v2").as("vec_id")).distinct()
      .withColumn("graft_dup", lit(1L))
    assigned.join(dups, Seq("vec_id"), "left")
      .groupBy(col("cid").cast("bigint").as("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("graft_dup"), lit(0L))).as("n_dups"))
      .select(col("cluster"), col("n_members"), col("n_dups"),
        (col("n_members") - col("n_dups")).as("n_survivors"))
  }

  /** Memoized, STORED PQ codes for EVERY vector — the
    * query-independent "index build" of the PQ family, shared by
    * `pqAdcTopK` and `ivfPqRerank` (same memo key): built once per
    * (session, corpus plan, params), reused by every query and bench rep.
    * Without this, Spark re-evaluates the encode subtree per reference —
    * the sf0.001 plans showed 18–24 separate corpus scans, invisible on a
    * cached local file and an 18× corpus re-read at 100 TB. Keying by the
    * ANALYZED plan's semanticHash ties the entry to the exact input
    * relation (different sfDir ⇒ different scan ⇒ different hash);
    * `Graft.freeCaches` disposes. n·m rows stored — the materialized
    * signature table a production index build writes anyway. */
  def pqCodesAll(df: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, numSeeds: Int, fitIters: Int = 0): DataFrame =
    graft.util.Memo.frame(df.sparkSession,
        s"pqcodes:${indexKey(df, id, vec)}:" +
          s"$m:$subDim:$numSeeds:$fitIters") {
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2"), col("seed"))
      pqDistances(df, id, vec, m, subDim, numSeeds, fitIters)
        .withColumn("graft_rn", row_number().over(w))
        .filter(col("graft_rn") === 1)
        .select(col("vec_id"), col("sub"), col("seed").as("code"))
    }

  /** PQ search via asymmetric distance computation: the query's
    * subspace-distance lookup table (m·numSeeds doubles, broadcast) is
    * joined to every candidate's codes; the approximate distance is the
    * fixed-order sum of m LUT entries — 4 lookups + 3 adds per candidate
    * at the graded parameters, no vector math at query time. Candidate
    * codes come from the memoized `pqCodesAll` frame; the per-query LUT
    * re-derives only the query row's distances (Catalyst pushes the
    * vec_id filter into the scan). Returns the `k` nearest candidates as
    * (vec_id, adc_raw), cut by the unrounded distance with id tiebreak
    * (total order). */
  def pqAdcTopK(df: DataFrame, id: Column, vec: Column, queryId: Any,
      k: Int, m: Int, subDim: Int, numSeeds: Int,
      fitIters: Int = 0): DataFrame = {
    val best = pqCodesAll(df, id, vec, m, subDim, numSeeds, fitIters)
      .filter(col("vec_id") =!= lit(queryId))
    val lut = pqDistances(df, id, vec, m, subDim, numSeeds, fitIters)
      .filter(col("vec_id") === lit(queryId))
      .select(col("sub").as("lsub"), col("seed").as("lseed"),
        col("d2").as("qd2"))
    def term(s: Int) = max(when(col("sub") === s, col("qd2")))
    val adc = (0 until m).map(term).reduceLeft(_ + _).as("adc_raw")
    best.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("lseed"))
      .groupBy("vec_id")
      .agg(adc)
      .orderBy(col("adc_raw"), col("vec_id"))
      .limit(k)
  }

  /** IVF + residual-PQ top-k (the standard IVF-PQ of Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
    * §IV — public method, re-derived here): vectors are PQ-encoded on
    * their RESIDUAL to the assigned IVF centroid rather than on the raw
    * vector. Within a cluster the centroid carries the coarse position,
    * so the codebook only has to resolve the (much smaller) residual
    * displacement — the round-7 measurement showed plain PQ collapses on
    * within-cluster near-ties (1–3/10 recall on clustered fixtures)
    * precisely because cluster structure eats its quantization budget.
    *
    * Mechanics: one shared residual codebook (sub-vector slices of the
    * first `numSeeds` vectors' residuals — the same seeded rule as every
    * other vector op here, so the whole thing stays deterministic and
    * engine-independent); each probed cluster gets its OWN query LUT
    * from the query's residual to THAT centroid (`q − c_cid`), and a
    * candidate's ADC distance sums LUT entries keyed by (its cluster,
    * subspace, code). ADC distance ≡ exact squared L2 between q and the
    * candidate's reconstruction c_cid + r̂ (pinned in Round8OpsSpec).
    *
    * 100-TB shape: centroids, probe set, residual codebook, and the
    * nProbes·m·numSeeds LUT are all tiny broadcasts; full-corpus work is
    * one assignment scan + one residual-encode scan (both linear,
    * shuffle on ids only); ADC per candidate is m lookups + m−1 adds.
    * Returns (vec_id, cid, adc_raw), the `k` nearest by residual-ADC
    * (unrounded distance, vec_id tiebreak — total order). */
  def ivfResidualPqTopK(df: DataFrame, id: Column, vec: Column,
      queryId: Any, kCent: Int, nProbes: Int, k: Int,
      m: Int, subDim: Int, numSeeds: Int, fitIters: Int = 0): DataFrame = {
    graft.functions.L2Sq.register(df.sparkSession)
    val dim = m * subDim
    val v = df.select(id.as("vec_id"), graft.util.V.dbl(vec).as("e"))
      .where(coalesce(assert_true(size(col("e")) === dim,
        lit(s"respq: embedding dim != $dim")), lit(true)))
    val cent = v.filter(col("vec_id") < kCent)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    val q = v.filter(col("vec_id") === lit(queryId)).select(col("e").as("qe"))
    // assignment (argmin window over broadcast centroids) + residual e − c
    val wa = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
    val assigned = v.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("cid"), col("e"), col("c"),
        expr("l2sq_native(e, c)").as("d2"))
      .withColumn("graft_rn", row_number().over(wa))
      .filter(col("graft_rn") === 1)
      .select(col("vec_id"), col("cid"),
        zip_with(col("e"), col("c"), (a, b) => a - b).as("r"))
    // shared residual codebook: subspace slices of the first numSeeds
    // vectors' residuals (broadcast; the same two-layer completeness
    // guards as pqDistances are unnecessary here — the seed filter rides
    // on `assigned`, which is total by construction)
    val rsubs = assigned.select(col("vec_id"), col("cid"),
      posexplode(array((0 until m).map(s =>
        slice(col("r"), s * subDim + 1, subDim)): _*)).as(Seq("sub", "sv")))
    val seeded = rsubs.filter(col("vec_id") < numSeeds)
      .select(col("sub").as("ssub"), col("vec_id").as("seed"),
        col("sv").as("cw"))
    // Optional k-means FIT of the residual codebook (`fitIters` Lloyd
    // steps per subspace, seeded init): assign every residual slice to
    // its nearest codeword, replace each codeword with its members'
    // elementwise mean (empty cells keep the old codeword). The mean is
    // a float aggregation whose bits depend on partition order, so a
    // fitted codebook is for the MEASUREMENT path (VecBench) only —
    // graded oracle queries stay at fitIters=0 (seeded, deterministic).
    // Distributed shape per step: one broadcast-join assignment scan +
    // one (sub, seed, pos) hash agg — m·numSeeds·subDim cells of state.
    // The codebook is memoized: tiny (m·numSeeds rows), but
    // deriving it re-walks the assignment subtree, and BOTH the encode
    // and every per-probe LUT reference it.
    val seeds = graft.util.Memo.frame(df.sparkSession,
        s"respq-codebook:${indexKey(df, id, vec)}:" +
          s"$kCent:$m:$subDim:$numSeeds:$fitIters") {
      // Seed-completeness guard (ADVICE r8): totality of `assigned` does
      // NOT guarantee ids 0..numSeeds-1 all exist (corpus smaller than
      // numSeeds, or low ids absent) — a short codebook would make every
      // downstream inner join silently return a degraded/empty top-k, the
      // failure mode pqDistances' guards exist for. One counted action,
      // amortized: it runs once per memoized index build, not per query.
      val nSeedVecs = seeded.select(countDistinct(col("seed")).as("n"))
        .head.getLong(0)
      require(nSeedVecs == numSeeds,
        s"respq: residual codebook needs ids 0..${numSeeds - 1} present; " +
          s"corpus provides $nSeedVecs of $numSeeds seed vectors")
      (0 until fitIters).foldLeft(seeded) { (cb, _) =>
        val wf = Window.partitionBy("vec_id", "sub")
          .orderBy(col("cd2"), col("seed"))
        val members = rsubs.join(broadcast(cb), col("sub") === col("ssub"))
          .select(col("vec_id"), col("sub"), col("seed"), col("sv"),
            expr("l2sq_native(sv, cw)").as("cd2"))
          .withColumn("graft_rn", row_number().over(wf))
          .filter(col("graft_rn") === 1)
        val updated = members
          .select(col("sub"), col("seed"), posexplode(col("sv")))
          .groupBy("sub", "seed", "pos")
          .agg(avg(col("col")).as("mv"))
          .groupBy(col("sub").as("usub"), col("seed").as("useed"))
          .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
            .as("pm"))
          .select(col("usub"), col("useed"),
            expr("transform(pm, x -> x.mv)").as("ncw"))
        cb.join(updated,
            cb("ssub") === col("usub") && cb("seed") === col("useed"), "left")
          .select(cb("ssub"), cb("seed"),
            coalesce(col("ncw"), cb("cw")).as("cw"))
      }
    }
    // encode: per (vector, subspace) the nearest residual codeword.
    // Memoized like pqCodesAll — the query-independent index
    // build (assignment + residuals + codebook + encode); without it the
    // plan re-evaluated this subtree per reference (18 corpus scans at
    // sf0.001 — an 18× corpus re-read at 100 TB).
    val codes = graft.util.Memo.frame(df.sparkSession,
        s"respq-codes:${indexKey(df, id, vec)}:" +
          s"$kCent:$m:$subDim:$numSeeds:$fitIters") {
      val wb = Window.partitionBy("vec_id", "sub")
        .orderBy(col("cd2"), col("seed"))
      rsubs.join(broadcast(seeds), col("sub") === col("ssub"))
        .select(col("vec_id"), col("cid"), col("sub"), col("seed"),
          expr("l2sq_native(sv, cw)").as("cd2"))
        .withColumn("graft_rn", row_number().over(wb))
        .filter(col("graft_rn") === 1)
        .select(col("vec_id"), col("cid"), col("sub"),
          col("seed").as("code"))
    }
    // probe set: the query's nProbes nearest centroids
    val wp = Window.orderBy(col("qd2"), col("cid"))
    val probes = cent.crossJoin(broadcast(q))
      .select(col("cid"), col("c"), expr("l2sq_native(c, qe)").as("qd2"))
      .withColumn("graft_rn", row_number().over(wp))
      .filter(col("graft_rn") <= nProbes)
      .select(col("cid"), col("c"))
    // per-probe LUT: slices of the query's residual to THAT centroid vs
    // every codeword — nProbes·m·numSeeds rows, broadcast
    val qres = probes.crossJoin(broadcast(q))
      .select(col("cid").as("lcid"),
        posexplode(array((0 until m).map(s =>
          slice(zip_with(col("qe"), col("c"), (a, b) => a - b),
            s * subDim + 1, subDim)): _*)).as(Seq("lsub", "qs")))
    val lut = qres.join(broadcast(seeds), col("lsub") === col("ssub"))
      .select(col("lcid"), col("lsub"), col("seed").as("lseed"),
        expr("l2sq_native(qs, cw)").as("qd2"))
    // candidates: members of probed clusters; ADC = fixed-order LUT sum
    def term(s: Int) = max(when(col("sub") === s, col("qd2")))
    val adcSum = (0 until m).map(term).reduceLeft(_ + _).as("adc_raw")
    codes.filter(col("vec_id") =!= lit(queryId))
      .join(broadcast(lut),
        col("cid") === col("lcid") && col("sub") === col("lsub") &&
          col("code") === col("lseed"))
      .groupBy("vec_id", "cid")
      .agg(adcSum)
      .orderBy(col("adc_raw"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cid"), col("adc_raw"))
  }

  /** The full ANN serving stack as ONE deterministic plan — the
    * composition the round-7 clustered-recall measurement (BASELINE.md)
    * showed is the production shape: IVF probe restriction bounds the
    * candidate set (recall mechanism), PQ-ADC coarse-ranks candidates to
    * a `shortlist` with 4 LUT lookups each (no vector math), and exact
    * cosine re-ranks only the shortlist (PQ's within-cluster resolution
    * limit never reaches the output). Centroids are the SEEDED rule
    * (`id < kCent`, same as kmeansStep/semanticDedupCensus) so the whole
    * pipeline is engine-independent and oracle-exact — unlike the
    * KMeans-fitted `vec_ann_ivf`, this one has a DuckDB oracle.
    *
    * 100-TB shape: centroids, probe set, LUT, and shortlist are all tiny
    * broadcasts; the only full-corpus work is one argmin assignment scan
    * and one code scan (both linear, shuffle only on ids); the exact
    * re-rank touches `shortlist` rows. Distances through the codegen'd
    * `l2sq_native` / `cosine_native` (bit-identical across engines,
    * NativeDotSpec).
    * Output: top-`k` of the shortlist as (vec_id, adc_d2, cos_sim),
    * ranked by unrounded exact cosine (vec_id tiebreak). */
  def ivfPqRerank(df: DataFrame, id: Column, vec: Column, queryId: Any,
      kCent: Int, nProbes: Int, m: Int, subDim: Int, numSeeds: Int,
      shortlist: Int, k: Int): DataFrame = {
    graft.functions.L2Sq.register(df.sparkSession)
    graft.functions.CosineSim.register(df.sparkSession)
    val v = df.select(id.as("vec_id"), graft.util.V.dbl(vec).as("e"))
    val cent = v.filter(col("vec_id") < kCent)
      .select(col("vec_id").as("cid"), col("e").as("c"))
    val q = v.filter(col("vec_id") === lit(queryId))
      .select(col("e").as("qe"))
    // probe set: the query's nProbes nearest seeded centroids
    val wp = Window.orderBy(col("qd2"), col("cid"))
    val probes = cent.crossJoin(broadcast(q))
      .select(col("cid"), expr("l2sq_native(c, qe)").as("qd2"))
      .withColumn("graft_rn", row_number().over(wp))
      .filter(col("graft_rn") <= nProbes)
      .select("cid")
    // assignment: every vector to its nearest centroid (argmin window) —
    // memoized: the one full-corpus pass of the query path,
    // query-independent, shared across calls (n×2 longs cached)
    val assigned = graft.util.Memo.frame(df.sparkSession,
        s"ivfassign:${indexKey(df, id, vec)}:$kCent") {
      val wa = Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))
      v.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), expr("l2sq_native(e, c)").as("d2"))
        .withColumn("graft_rn", row_number().over(wa))
        .filter(col("graft_rn") === 1)
        .select("vec_id", "cid")
    }
    val cand = assigned.join(broadcast(probes), Seq("cid"), "semi")
      .filter(col("vec_id") =!= lit(queryId))
      .select("vec_id")
    // PQ-ADC coarse rank over the candidates only. Codes come from the
    // MEMOIZED full-corpus frame (pqCodesAll — same entry pqAdcTopK uses,
    // codebook probe-independent by construction); restricting to
    // candidates is a semi-join against the stored frame, not a
    // re-encode.
    val codes = pqCodesAll(df, id, vec, m, subDim, numSeeds)
      .join(broadcast(cand), Seq("vec_id"), "semi")
    val lut = pqDistances(df, id, vec, m, subDim, numSeeds)
      .filter(col("vec_id") === lit(queryId))
      .select(col("sub").as("lsub"), col("seed").as("lseed"),
        col("d2").as("qd2"))
    def term(s: Int) = max(when(col("sub") === s, col("qd2")))
    val adcSum = (0 until m).map(term).reduceLeft(_ + _).as("adc_raw")
    val short = codes.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("lseed"))
      .groupBy("vec_id")
      .agg(adcSum)
      .orderBy(col("adc_raw"), col("vec_id"))
      .limit(shortlist)
    // exact re-rank of the shortlist (broadcast-sized by construction)
    short.join(v, Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("adc_raw"),
        expr("cosine_native(e, qe)").as("graft_cos"))
      .orderBy(col("graft_cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("adc_raw"), 6).as("adc_d2"),
        round(col("graft_cos"), 4).as("cos_sim"))
  }

  /** Interval union / coverage sweep (round-9): merge possibly-
    * overlapping [start, end] intervals per key and report per key the
    * interval count, merged-island count, and total covered span —
    * counting overlaps once. `tieBreak` joins (start, end) in the sweep's
    * TOTAL order so both engines (and any rerun) merge identically; spans
    * are whatever integer unit `startUs`/`endUs` carry. State is bounded
    * per key: the sweep windows never leave the key's partition. */
  def intervalUnion(df: DataFrame, key: Seq[Column], startUs: Column,
      endUs: Column, tieBreak: Column): DataFrame = {
    val keyed = df.select(key :+ startUs.as("graft_s") :+ endUs.as("graft_e")
      :+ tieBreak.as("graft_tb"): _*)
    val keyNames = keyed.columns.dropRight(3)
    val ord = Window.partitionBy(keyNames.map(col): _*)
      .orderBy(col("graft_s"), col("graft_e"), col("graft_tb"))
    val prior = ord.rowsBetween(Window.unboundedPreceding, -1)
    keyed
      .withColumn("graft_runmax", max(col("graft_e")).over(prior))
      .withColumn("graft_brk",
        when(col("graft_runmax").isNull
          || col("graft_s") <= col("graft_runmax"), 0L).otherwise(1L))
      .withColumn("graft_island", sum(col("graft_brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy((keyNames :+ "graft_island").map(col): _*)
      .agg(min(col("graft_s")).as("graft_is"),
        max(col("graft_e")).as("graft_ie"),
        count(lit(1)).as("graft_niv"))
      .groupBy(keyNames.map(col): _*)
      .agg(sum(col("graft_niv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("graft_ie") - col("graft_is")).as("covered"))
  }

  /** Forward fill (round-9): every NULL in `value` inherits the last
    * non-NULL value in the (order) total order within its partition —
    * last_value IGNORE NULLS over the running frame. Leading NULLs stay
    * NULL. Appends `<valueAlias>_filled`. */
  def forwardFill(df: DataFrame, part: Seq[Column], order: Seq[Column],
      value: Column, filledName: String): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(filledName, last(value, ignoreNulls = true).over(w))
  }

  /** Integer-exact grouped ROC-AUC (round-9): Mann-Whitney rank-sum with
    * tie-aware average ranks kept in DOUBLED BIGINT units, so the
    * statistic is exact integer arithmetic until the single final
    * division. `label` must be 0/1 bigint. Returns one row per group:
    * (group..., n_pos, n_neg, auc); auc is NULL when a group lacks both
    * classes (0/0 guarded by the caller's data, NULL via zero division
    * semantics would differ — we guard explicitly). */
  def aucByGroup(df: DataFrame, group: Column, score: Column,
      label: Column): DataFrame = {
    val base = df.select(group.as("graft_g"), score.as("graft_s"),
      label.as("graft_l"))
    val wRank = Window.partitionBy("graft_g").orderBy("graft_s")
    val wTie = Window.partitionBy("graft_g", "graft_s")
    base
      .withColumn("graft_rk", rank().over(wRank).cast("bigint"))
      .withColumn("graft_ties", count(lit(1)).over(wTie))
      .withColumn("graft_ar2",
        lit(2L) * col("graft_rk") + col("graft_ties") - lit(1L))
      .groupBy("graft_g")
      .agg(sum(col("graft_l")).as("n_pos"),
        (count(lit(1)) - sum(col("graft_l"))).as("n_neg"),
        sum(when(col("graft_l") === 1L, col("graft_ar2")).otherwise(0L))
          .as("graft_s2"))
      .select(col("graft_g"), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          (col("graft_s2") - col("n_pos") * (col("n_pos") + 1L)).cast("double")
            / (lit(2.0) * col("n_pos").cast("double")
               * col("n_neg").cast("double"))).as("auc"))
  }

  /** Exact maximal shared token runs between document pairs (round-11,
    * VERDICT-r10 #2) — the EXACT substring-dedup pass (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better") whose
    * production approximation is the stride-4 chunk census
    * (tokenChunksArr / text_chunk_dedup): stride-1 `shingle`-token
    * windows are content-addressed by md5, identical windows across two
    * docs become positional matches via ONE hash-keyed equi-join (never
    * a pair scan), and a gaps-and-islands pass merges consecutive
    * matches along each (d1, d2, p1−p2) DIAGONAL into maximal runs — a
    * run of k consecutive stride-1 shingles covers k+shingle−1 tokens.
    * Stride-1 is what makes it exact: a duplicate span starting at a
    * non-multiple-of-stride offset misaligns every stride-4 chunk hash
    * and is invisible to the chunk census (OpsSpec pins such a
    * boundary-offset duplicate), but shares all its interior stride-1
    * windows here. Returns one row per maximal run ≥ `minRunTokens`:
    * (d1, d2, d1_start, d2_start, run_tokens), positions 1-based.
    *
    * 100-TB shape: 8-token stride-1 shingles are high-entropy, so the
    * self-equi-join's buckets are tiny (measured sf0.1: 236k shingles,
    * Σc² = 1.1·Σc — no degenerate bucket); the islands pass is one
    * window + one agg keyed on (d1, d2, diagonal). A production run adds
    * the standard hot-shingle guard (drop shingle hashes whose corpus
    * frequency exceeds a cap — boilerplate) before the join; the graded
    * op is exact and uncapped. */
  def sharedTokenRuns(df: DataFrame, id: Column, toksCol: Column,
      shingle: Int = 8, minRunTokens: Int = 16): DataFrame = {
    val sh = df.select(id.as("graft_id"), toksCol.as("graft_tk"))
      .filter(size(col("graft_tk")) >= shingle)
      .select(col("graft_id"), explode(expr(
        s"""transform(sequence(1, size(graft_tk) - ${shingle - 1}),
           |  i -> struct(i AS p,
           |    md5(array_join(slice(graft_tk, i, $shingle), ' ')) AS h))"""
          .stripMargin)).as("graft_sh"))
      .select(col("graft_id"), col("graft_sh.p").as("p"),
        col("graft_sh.h").as("h"))
    val m = sh.select(col("graft_id").as("d1"), col("p").as("p1"),
        col("h"))
      .join(sh.select(col("graft_id").as("d2"), col("p").as("p2"),
        col("h").as("h2")),
        col("h") === col("h2") && col("d1") < col("d2"))
    val wDiag = Window.partitionBy(col("d1"), col("d2"), col("g"))
      .orderBy(col("p1"))
    m.select(col("d1"), col("d2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("g"))
      .withColumn("graft_isle",
        col("p1") - row_number().over(wDiag))
      .groupBy(col("d1"), col("d2"), col("g"), col("graft_isle"))
      .agg(min(col("p1")).as("d1_start"), min(col("p2")).as("d2_start"),
        (count(lit(1)) + lit(shingle - 1).cast("long")).as("run_tokens"))
      .filter(col("run_tokens") >= minRunTokens)
      .select("d1", "d2", "d1_start", "d2_start", "run_tokens")
  }

  /** Connected components by min-label propagation iterated to FIXPOINT
    * (round-11, VERDICT-r10 #1) — replaces the fixed 2-round depth the
    * dedup tier used through round 10, which provably mislabels any
    * component of diameter > 2 (SemanticsSpec pins a diameter-4 chain).
    * Each round is one groupBy over the symmetric edge list (min label
    * among neighbors) + one left join back (min of self and neighbors);
    * the loop stops when a round changes NO label (the standard
    * one-extra-round fixpoint detection) or after `maxRounds`, whichever
    * first. Output: (id, cluster, converged) — `converged` is the
    * bounded-guard flag: false means maxRounds fired first and labels of
    * deep components may still be provisional, a state the caller (and
    * the graded oracle, which computes the true fixpoint) can see.
    *
    * Every round's frontier is stored as a lineage-free checkpoint
    * (`Memo.checkpoint`), which severs the iteration's plan lineage —
    * load-bearing twice over. (1) Freeing the previous round cannot
    * invalidate the current one. The naive loop would persist each round
    * and `Dataset.unpersist` the parent, but that goes through the
    * CacheManager, which RE-CACHES (= clears the buffers of) every cached
    * plan referencing the unpersisted relation, so every later action
    * silently recomputes the ENTIRE iteration chain (measured at sf0.1:
    * 36 s cold / 4 s per warm read before the rework, 0.1 s warm after).
    * `Memo.release` frees the checkpoint's RDD directly and touches no
    * CacheManager state. (2) The plan stays O(1) per round instead of
    * growing with the iteration count. The loop holds at most two stored
    * frontiers, each released deterministically (never left to the async
    * ContextCleaner). The RETURNED frame is itself a checkpoint over the
    * final frontier, so a caller memoizes it with `Memo.frame` (which
    * stores it as is and releases it on evict).
    *
    * 100-TB shape: rounds ∝ component diameter (near-dup clusters are
    * shallow — typically ≤ 3), each round two shuffles keyed on node id;
    * the changed-count scans the just-stored frontier. Frontier blocks are
    * MEMORY_AND_DISK but, as local checkpoints, not recomputable after
    * executor loss; a long production run would swap in reliable
    * `checkpoint()` — the loop structure is identical. */
  def ccFixpoint(nodes: DataFrame, id: Column, edges: DataFrame,
      src: Column, dst: Column, maxRounds: Int = 20): DataFrame = {
    import graft.util.Memo
    var labels =
      Memo.checkpoint(nodes.select(id.as("graft_id"), id.as("graft_lbl")))
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      val neigh = edges
        .join(labels.select(col("graft_id").as("graft_nid"),
            col("graft_lbl").as("graft_nlbl")),
          dst === col("graft_nid"))
        .groupBy(src.as("graft_src"))
        .agg(min(col("graft_nlbl")).as("graft_mn"))
      val next = Memo.checkpoint(labels
        .join(neigh, col("graft_id") === col("graft_src"), "left")
        .select(col("graft_id"), col("graft_lbl").as("graft_prev"),
          when(col("graft_mn").isNull || col("graft_lbl") < col("graft_mn"),
            col("graft_lbl")).otherwise(col("graft_mn")).as("graft_lbl")))
      val changed =
        next.filter(col("graft_lbl") =!= col("graft_prev")).count()
      Memo.release(labels)
      labels = next
      converged = changed == 0L
    }
    val out = Memo.checkpoint(labels.select(col("graft_id").as("id"),
      col("graft_lbl").as("cluster"), lit(converged).as("converged")))
    Memo.release(labels)
    out
  }

  /** Corpus-global symmetric int8 codes (round-9): scale s = max |x|
    * over the corpus, per-vector codes round(x/s·127) carried as exact
    * small-integer doubles (every value and partial dot binary-exact;
    * see vec_int8_dot_topk). Memoized per (plan, id/vec
    * exprs) like the PQ index frames — the build-once/query-many shape:
    * serving N queries re-reads the coded frame, never re-codes the
    * corpus. Returns (vec_id, e double[], q double[]). */
  def int8Codes(df: DataFrame, id: Column, vec: Column): DataFrame =
    graft.util.Memo.frame(df.sparkSession,
        s"int8codes:${indexKey(df, id, vec)}") {
      import graft.util.V
      val base = df.select(id.as("vec_id"), V.dbl(vec).as("e"))
      val sc = base.agg(
        max(greatest(abs(array_min(col("e"))), abs(array_max(col("e")))))
          .as("graft_s"))
      base.crossJoin(broadcast(sc))
        .select(col("vec_id"), col("e"),
          transform(col("e"), x =>
            round(x / col("graft_s") * lit(127.0), 0)).as("q"))
    }
}
