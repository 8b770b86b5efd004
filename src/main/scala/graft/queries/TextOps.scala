package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables

/** Text-analysis / dedup tier over documents (SURVEY §2.11).
  *
  * 100-TB notes: exact dedup is a hash-partitioned window on md5(text) —
  * one shuffle keyed by content hash, scales like any groupBy. The exact
  * pairwise Jaccard is capped (doc_id < 50) because all-pairs token joins
  * are inherently quadratic — the uncapped scale path for near-dup
  * detection is minhash_lsh_jaccard (bucketed LSH join, Approx module).
  */
object TextOps {

  /** The text tier's SINGLE tokenize pass (round-5 verdict #2): documents
    * plus its whitespace token array `tk`, spread on doc_id to the
    * session's shuffle parallelism, stored (Memo.frame) per (session,
    * sfDir). Every text plan derives from this frame, so the parquet scan
    * + split regex run once per session instead of once per query — the
    * session-cache form of the materialized "tokenized" intermediate a
    * production pipeline would write between its scan and analysis stages
    * (at 100 TB: a bucketed parquet table, same shape). The doc_id spread
    * also retires the per-query `repartition(32, ...)` constants (verdict
    * #7): downstream explode blow-ups inherit full parallelism from the
    * cache. `lower()` is applied per token where a query needs folded
    * terms — whitespace lowercases to itself, so split∘lower ≡ lower∘split
    * token-for-token. */
  def docToks(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:doctoks:${Tables.tableKey(sfDir, "documents")}") {
      Tables.documents(spark, sfDir)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("doc_id"))
        .withColumn("tk", split(col("text"), " ", -1))
    }

  /** A document's bag of lowercased, non-empty terms over docToks' `tk`:
    * `array<struct<term, k>>`, each distinct term once with its count k
    * (`term_bag_native`, row-local). Per-document term statistics read the
    * bag instead of exploding every token into its own row and
    * re-aggregating on (doc_id, term). */
  private def termBag(spark: SparkSession) = {
    graft.functions.TermBag.register(spark)
    expr("term_bag_native(transform(tk, t -> lower(t)))")
  }

  /** docToks' `keys` plus one row per distinct (document, term): columns
    * `term` and its in-document count `k`. Corpus term statistics read
    * these rows with integer-exact rewrites of the per-token form:
    * count(1) → sum(k), sum(x) → sum(k·x), min/max unchanged, and a
    * DISTINCT on (doc, term) is already implied. */
  private def docTerms(spark: SparkSession, sfDir: String, keys: String*)
      : DataFrame =
    docToks(spark, sfDir).select(keys.map(col) :+ inline(termBag(spark)): _*)

  /** Exact duplicate-text removal: keep the lowest doc_id per md5(text).
    * The fixture corpus has no exact dups, so output == input — still a
    * graded identity that exercises the full dedup plan. */
  val textExactDedup = Q(
    "text_exact_dedup",
    (spark, sfDir) =>
      graft.ops.Ops.exactDedup(docToks(spark, sfDir),
          md5(col("text")), col("doc_id"))
        .select("doc_id", "h")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, h FROM (
              SELECT doc_id, md5(text) AS h,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents)
            WHERE rn = 1 ORDER BY doc_id"""))

  /** Exact token-set Jaccard similarity for all pairs among doc_id < 50:
    * inverted-index self-join on token → |A∩B| / (|A|+|B|−|A∩B|). */
  val textJaccardPairs = Q(
    "text_jaccard_pairs",
    (spark, sfDir) => {
      val toks = docToks(spark, sfDir)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .distinct()
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = toks.select(col("doc_id").as("d1"), col("tok"))
        .join(toks.select(col("doc_id").as("d2"), col("tok").as("tok2")),
          col("tok") === col("tok2") && col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
      inter
        .join(broadcast(sizes.select(col("doc_id").as("sd1"), col("n").as("n1"))),
          col("d1") === col("sd1"))
        .join(broadcast(sizes.select(col("doc_id").as("sd2"), col("n").as("n2"))),
          col("d2") === col("sd2"))
        .select(col("d1"), col("d2"),
          round(col("c").cast("double") / (col("n1") + col("n2") - col("c")), 4)
            .as("jaccard"))
        .orderBy("d1", "d2")
    },
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 50),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
              FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT d1, d2,
                   round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
            FROM inter
            JOIN sizes s1 ON d1 = s1.doc_id
            JOIN sizes s2 ON d2 = s2.doc_id
            ORDER BY d1, d2"""))

  /** Corpus quality stats per (lang, source): doc counts, char totals,
    * n_chars consistency check, average token count. */
  val textStats = Q(
    "text_stats",
    (spark, sfDir) =>
      docToks(spark, sfDir)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(length(col("text")) === col("n_chars"), 1).otherwise(0))
            .as("n_len_ok"),
          round(avg(size(col("tk"))), 4).as("avg_tokens"))
        .orderBy("lang", "source"),
    Some("""SELECT lang, source, count(*) AS n_docs,
            CAST(sum(n_chars) AS BIGINT) AS total_chars,
            CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
            round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
            FROM documents GROUP BY lang, source ORDER BY lang, source"""))

  /** Token-bigram-shingle Jaccard (n-gram near-dup detection): the same
    * inverted-index formulation as textJaccardPairs but over 2-gram
    * shingles — catches reordered-word near-dups single tokens miss. */
  val textNgramJaccard = Q(
    "text_ngram_jaccard",
    (spark, sfDir) => {
      // Row-local 2-gram shingle SETS over the cached token array
      // (round 18, same rewrite as text_repetition_stats' bigrams): the
      // old posexplode + lead() window + DISTINCT shuffled the slice's
      // token stream twice to build what array_distinct over a transform
      // yields per row. The inverted-index self-join below is the key's
      // demonstrated technique and stays exactly as it was.
      val shingles = docToks(spark, sfDir)
        .filter(col("doc_id") < 50 && size(col("tk")) >= 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          """transform(sequence(1, size(tk) - 1),
            |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"""
            .stripMargin))).as("sh"))
      val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))
      shingles.select(col("doc_id").as("d1"), col("sh"))
        .join(shingles.select(col("doc_id").as("d2"), col("sh").as("sh2")),
          col("sh") === col("sh2") && col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("c"))
        .join(broadcast(sizes.select(col("doc_id").as("sd1"), col("n").as("n1"))),
          col("d1") === col("sd1"))
        .join(broadcast(sizes.select(col("doc_id").as("sd2"), col("n").as("n2"))),
          col("d2") === col("sd2"))
        .select(col("d1"), col("d2"),
          round(col("c").cast("double") / (col("n1") + col("n2") - col("c")), 4)
            .as("jaccard2"))
        .orderBy("d1", "d2")
    },
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, tok || ' ' || nxt AS sh FROM (
                SELECT doc_id, tok,
                       lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
                FROM (SELECT doc_id,
                             generate_subscripts(string_split(text, ' '), 1) AS pos,
                             unnest(string_split(text, ' ')) AS tok
                      FROM documents WHERE doc_id < 50))
              WHERE nxt IS NOT NULL),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
            SELECT d1, d2,
                   round(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard2
            FROM inter JOIN sizes s1 ON d1 = s1.doc_id
                       JOIN sizes s2 ON d2 = s2.doc_id
            ORDER BY d1, d2"""))

  /** 16-bit SimHash document fingerprint from the md5 of each distinct
    * token: per bit position, majority vote of token-hash bits (+1/−1,
    * ties → 1), recombined into one BIGINT. Pure integer arithmetic —
    * bit-identical across engines by construction. Shuffles only on
    * (doc_id) / (doc_id, bit): linear in corpus size, 100-TB-safe. */
  val textSimhash = Q(
    "text_simhash",
    (spark, sfDir) => {
      // Round-13 shape: md5 once per DISTINCT token (dictionary join, not
      // per occurrence), and the 16 bit-position majority votes as 16
      // aggregate columns over ONE (doc_id) shuffle instead of the former
      // explode(0..15) → groupBy(doc_id, p) → groupBy(doc_id) two-shuffle
      // plan (16× the rows through the exchange). Vote sums and the
      // ties→1 recombination are value-identical, so the oracle replay
      // below is untouched.
      val toks = docToks(spark, sfDir)
        .select(col("doc_id"), explode(col("tk")).as("tok"))
        .distinct()
      val dict = toks.select(col("tok").as("dtok")).distinct()
        .select(col("dtok"), substring(md5(col("dtok")), 1, 4).as("h4"))
      def bit(p: Int) =
        expr(s"((instr('0123456789abcdef', substring(h4, ${1 + p / 4}, 1)) - 1) >> ${p % 4}) & 1")
      toks.join(dict, col("tok") === col("dtok"))
        .groupBy("doc_id")
        .agg(sum(bit(0) * 2 - 1).as("s0"),
          (1 until 16).map(p => sum(bit(p) * 2 - 1).as(s"s$p")): _*)
        .select(col("doc_id"),
          (0 until 16).map(p =>
              shiftleft(when(col(s"s$p") >= 0, 1L).otherwise(0L), p))
            .reduce(_ + _).cast("bigint").as("simhash"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
            h AS (SELECT doc_id, substring(md5(tok), 1, 4) AS h4 FROM toks),
            bits AS (
              SELECT doc_id, p,
                     ((strpos('0123456789abcdef', substring(h4, 1 + p // 4, 1)) - 1)
                      >> (p % 4)) & 1 AS bit
              FROM h, (SELECT unnest(generate_series(0, 15)) AS p)),
            sums AS (SELECT doc_id, p, sum(2 * bit - 1) AS s
                     FROM bits GROUP BY doc_id, p)
            SELECT doc_id,
                   CAST(sum(CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT) << p) AS BIGINT) AS simhash
            FROM sums GROUP BY doc_id ORDER BY doc_id"""))

  /** Document quality scoring: token counts, mean token length, punctuation
    * and stopword ratios, and a keep/flag classification. */
  val textQuality = Q(
    "text_quality",
    (spark, sfDir) => {
      val tokens = col("tk")
      val nToks = size(tokens).cast("bigint")
      val stop = size(filter(tokens, t =>
        t.isin("the", "a", "of", "and", "to"))).cast("bigint")
      val punct = (length(col("text")) -
        length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("bigint")
      docToks(spark, sfDir)
        .select(col("doc_id"), nToks.as("n_tokens"),
          round((length(col("text")) - (nToks - 1)).cast("double") / nToks, 4)
            .as("avg_tok_len"),
          round(punct.cast("double") / length(col("text")), 4).as("punct_ratio"),
          round(stop.cast("double") / nToks, 4).as("stop_ratio"))
        .withColumn("quality",
          when(col("n_tokens").between(20, 80) && col("stop_ratio") < 0.3, "keep")
            .otherwise("flag"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_tokens,
                   round(CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens, 4) AS avg_tok_len,
                   round(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
                   round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
                   CASE WHEN n_tokens BETWEEN 20 AND 80
                             AND CAST(n_stop AS DOUBLE) / n_tokens < 0.3
                        THEN 'keep' ELSE 'flag' END AS quality
            FROM (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                         length(text) AS n_chars,
                         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
                         CAST(len(list_filter(string_split(text, ' '),
                              t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
                  FROM documents)
            ORDER BY doc_id"""))

  /** The langid scoring + argmax frame (doc_id, lang, s_*, predicted) —
    * shared by text_langid (the per-doc readout) and text_langid_f1 (the
    * round-12 macro evaluation face). */
  private def langidPredictions(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val tokens = col("tk")
    def score(ms: String*) =
      round(size(filter(tokens, t => t.isin(ms: _*))).cast("double") / size(tokens), 4)
    docToks(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        score("the", "a", "and", "of").as("s_en"),
        score("der", "und", "die", "das").as("s_de"),
        score("el", "y", "la", "los").as("s_es"),
        score("le", "et", "la", "les").as("s_fr"),
        score("de", "shi", "zai", "he").as("s_zh"))
      .withColumn("predicted",
        when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
          col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
          .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr") &&
            col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh"))
  }

  /** Marker-token language-ID heuristic: score each candidate language by
    * its stopword-marker hit rate; argmax with a fixed tiebreak chain.
    * (Fixture text is synthetic, so this grades the scoring mechanics —
    * the per-language profiles are the real-world plug-in point.) */
  val textLangid = Q(
    "text_langid",
    (spark, sfDir) => langidPredictions(spark, sfDir).orderBy("doc_id"),
    Some("""SELECT doc_id, lang, s_en, s_de, s_es, s_fr, s_zh,
                   CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                        WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                        WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                        WHEN s_fr >= s_zh THEN 'fr'
                        ELSE 'zh' END AS predicted
            FROM (SELECT doc_id, lang,
                    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_en,
                    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','und','die','das'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_de,
                    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el','y','la','los'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_es,
                    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','et','la','les'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_fr,
                    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('de','shi','zai','he'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_zh
                  FROM documents)
            ORDER BY doc_id"""))

  /** Macro per-class evaluation of the langid classifier (round-12) —
    * the metric face of text_langid/text_lang_confusion: per GOLD class,
    * exact-integer tp / fp / fn from the shared prediction frame, then
    * precision = tp/n_pred, recall = tp/n_gold and the rational
    * F1 = 2·tp/(2·tp+fp+fn) — each a SINGLE integer division rounded at
    * 6dp (the engine-portable form; the F1 denominator n_pred+n_gold is
    * never zero for a gold class, and precision is NULL when the class
    * is never predicted). This is the readout a curation pipeline owner
    * watches before trusting langid-based filtering at 100 TB.
    *
    * 100-TB shape: one row per doc through the shared scoring
    * expressions, two class-keyed hash aggs (≤ vocabulary-of-languages
    * groups), one tiny left join. */
  val textLangidF1 = Q(
    "text_langid_f1",
    (spark, sfDir) => {
      val pred = langidPredictions(spark, sfDir)
        .select(col("lang"), col("predicted"))
      val g = pred.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("n_gold"),
          sum(when(col("predicted") === col("lang"), 1L).otherwise(0L))
            .as("tp"))
      val p = pred.groupBy(col("predicted").as("pcls"))
        .agg(count(lit(1)).as("n_pred"))
      g.join(p, col("cls") === col("pcls"), "left")
        .select(col("cls"), col("tp"),
          (coalesce(col("n_pred"), lit(0L)) - col("tp")).as("fp"),
          (col("n_gold") - col("tp")).as("fn"),
          when(coalesce(col("n_pred"), lit(0L)) > 0L,
            round(col("tp").cast("double")
              / col("n_pred").cast("double"), 6)).as("prec"),
          round(col("tp").cast("double")
            / col("n_gold").cast("double"), 6).as("rec"),
          round((lit(2L) * col("tp")).cast("double")
            / (lit(2L) * col("tp") + (coalesce(col("n_pred"), lit(0L))
              - col("tp")) + (col("n_gold") - col("tp"))).cast("double"), 6)
            .as("f1"))
        .orderBy("cls")
    },
    Some("""WITH pred AS (
              SELECT lang,
                     CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                          WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                          WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                          WHEN s_fr >= s_zh THEN 'fr'
                          ELSE 'zh' END AS predicted
              FROM (SELECT doc_id, lang,
                      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_en,
                      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('der','und','die','das'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_de,
                      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('el','y','la','los'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_es,
                      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('le','et','la','les'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_fr,
                      round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('de','shi','zai','he'))) AS DOUBLE) / len(string_split(text, ' ')), 4) AS s_zh
                    FROM documents)),
                 g AS (SELECT lang AS cls, count(*) AS n_gold,
                              sum(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS tp
                       FROM pred GROUP BY lang),
                 p AS (SELECT predicted AS pcls, count(*) AS n_pred
                       FROM pred GROUP BY predicted)
            SELECT cls, CAST(tp AS BIGINT) AS tp,
                   CAST(coalesce(n_pred, 0) - tp AS BIGINT) AS fp,
                   CAST(n_gold - tp AS BIGINT) AS fn,
                   CASE WHEN coalesce(n_pred, 0) > 0
                        THEN round(CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE), 6)
                   END AS prec,
                   round(CAST(tp AS DOUBLE) / CAST(n_gold AS DOUBLE), 6) AS rec,
                   round(CAST(2 * tp AS DOUBLE)
                         / CAST(2 * tp + (coalesce(n_pred, 0) - tp)
                                + (n_gold - tp) AS DOUBLE), 6) AS f1
            FROM g LEFT JOIN p ON cls = pcls
            ORDER BY cls"""))

  /** Token counting three ways: whitespace split, a BPE-ish regex lexer
    * (word / number / other-symbol), and unique regex tokens. */
  val textTokenCount = Q(
    "text_token_count",
    (spark, sfDir) => {
      val re = "[a-z]+|[0-9]+|[^a-z0-9 ]"
      docToks(spark, sfDir)
        .select(col("doc_id"),
          size(col("tk")).cast("bigint").as("n_ws"),
          size(expr(s"regexp_extract_all(text, '$re', 0)")).cast("bigint").as("n_re"),
          size(array_distinct(expr(s"regexp_extract_all(text, '$re', 0)")))
            .cast("bigint").as("n_re_unique"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
                   len(string_split(text, ' ')) AS n_ws,
                   len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_re,
                   CAST(len(list_distinct(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS n_re_unique
            FROM documents ORDER BY doc_id"""))

  /** Rolling-window document fingerprint (winnowing shape): hash every
    * 8-char window of the text, keep the minimum and the count of distinct
    * window hashes. (A streaming implementation would roll the hash in
    * O(1) per step; the set of window hashes — and therefore the
    * fingerprint — is identical computed windowwise.) */
  val textWinnowFingerprint = Q(
    "text_winnow_fingerprint",
    (spark, sfDir) => {
      graft.functions.CharNgrams.register(spark)
      docToks(spark, sfDir)
        // char_ngrams_native emits every 8-char window in one O(bytes)
        // pass. Round-18 (guide §2.4): the fingerprint is a PER-DOC
        // reduction, so it stays row-local — array_min over the hashed
        // windows ≡ the grouped min, size(array_distinct) ≡ the grouped
        // countDistinct — where the old explode + groupBy shuffled ~5M
        // (doc_id, md5) rows at sf0.1 to recompose rows it already had.
        // Docs shorter than the window yield an empty array: the size>0
        // filter reproduces explode's drop-empty semantics exactly.
        .select(col("doc_id"),
          expr("transform(char_ngrams_native(text, 8), w -> md5(w))")
            .as("hs"))
        .filter(size(col("hs")) > 0)
        .select(col("doc_id"),
          array_min(col("hs")).as("fingerprint"),
          size(array_distinct(col("hs"))).cast("bigint").as("n_windows"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, min(h) AS fingerprint,
                   count(DISTINCT h) AS n_windows
            FROM (SELECT doc_id, md5(substring(text, p, 8)) AS h
                  FROM (SELECT doc_id, text,
                               unnest(generate_series(1, length(text) - 7)) AS p
                        FROM documents))
            GROUP BY doc_id ORDER BY doc_id"""))

  /** TF-IDF-style term weighting: tf per (doc, term), df over the FULL
    * corpus, score = tf * (N+1)/(df+1). The idf is the rational variant —
    * no ln/log, because transcendental functions are the one place two
    * engines' doubles can legally differ by an ulp; +,-,*,/ are IEEE-exact
    * for identical operands, so the scores are bit-identical. Output is
    * capped to doc_id < 100 (the df statistics still scan everything). */
  val textTfidf = Q(
    "text_tfidf",
    (spark, sfDir) => {
      // df = count(*) OVER (PARTITION BY term) on the tf aggregate (#docs
      // with tf>0 == #docs containing the term). A window — not a
      // groupBy("term") + self-join — because the join formulation makes
      // the tf subtree appear twice in the plan, and Spark recomputes the
      // whole tokenize+explode+shuffle per occurrence (no subtree reuse
      // without caching). One tokenize pass, one agg, one window shuffle
      // on the high-cardinality term key; doc_id<100 caps output AFTER
      // the corpus-wide df so the statistics still scan everything.
      // The (tf, df) frame itself is memoized across its three consumers
      // since round 18 (tfDf).
      val withDf = tfDf(spark, sfDir)
      val tot = docToks(spark, sfDir).agg(count(lit(1)).as("n_docs"))
      withDf.filter(col("doc_id") < 100)
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast("double") * (col("n_docs").cast("double") + 1.0)
            / (col("df").cast("double") + 1.0)).as("score"))
        .orderBy("doc_id", "term")
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 t AS (SELECT doc_id, term, count(*) AS tf
                       FROM toks GROUP BY doc_id, term),
                 td AS (SELECT doc_id, term, tf,
                               count(*) OVER (PARTITION BY term) AS df
                        FROM t),
                 n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT doc_id, term, tf, df,
                   CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) + 1.0)
                     / (CAST(df AS DOUBLE) + 1.0) AS score
            FROM td CROSS JOIN n
            WHERE doc_id < 100
            ORDER BY doc_id, term"""))

  /** Oracle-exact MinHash+LSH banding — the uncapped-scale dedup shape,
    * here with a deterministic md5 hash family so DuckDB can replay it
    * value-for-value (unlike the MLlib sketch in minhash_lsh_jaccard):
    * 8 min-hashes per doc (seeded by prefix), 2 bands of 4 rows each,
    * candidate pairs = docs sharing EITHER band key. Both band joins are
    * EQUI-joins (shuffle-hash on the band key) — the whole point of LSH:
    * no all-pairs comparison anywhere, so the plan survives 100 TB. */
  val textMinhashBandPairs = Q(
    "text_minhash_band_pairs",
    (spark, sfDir) =>
      unigramCandPairs(spark, sfDir, 200)
        .withColumnRenamed("id1", "d1").withColumnRenamed("id2", "d2")
        .orderBy("d1", "d2"),
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 200)
                          WHERE length(tok) > 0),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig)
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            FROM bands a JOIN bands b
              ON a.band_no = b.band_no AND a.bkey = b.bkey
            WHERE a.doc_id < b.doc_id
            ORDER BY d1, d2"""))

  /** The full production dedup pipeline: LSH banding GENERATES candidates
    * (text_minhash_band_pairs' shape), exact Jaccard VERIFIES only those —
    * never all pairs. At 100 TB the verify stage touches |candidates| ≪ n²
    * pairs; this operator grades both stages composed, with the verified
    * near-dup decision (jaccard ≥ 0.5) in the output. */
  val textLshDedupVerified = Q(
    "text_lsh_dedup_verified",
    (spark, sfDir) => {
      val docsF = docToks(spark, sfDir).filter(col("doc_id") < 200)
      // candidate generation through the ONE banding implementation
      // (Ops.minhashBands / minhashCandidatePairs) — a hash-family or
      // band-layout change lands in every LSH consumer at once; the
      // (slice, 8, 2) candidate frame is memoized across its three
      // unigram consumers (round 18)
      val cand = unigramCandPairs(spark, sfDir, 200)
        .select(col("id1").as("d1"), col("id2").as("d2"))
      // verify stage: exact Jaccard over sorted token sets, candidates
      // only. Row-local set construction (round 18, guide §2.4):
      // sort_array(array_distinct(filter(tk))) over the cached token
      // array ≡ sort_array(collect_set(exploded tokens)) — the old
      // explode + DISTINCT + groupBy chain shuffled the token stream
      // twice to build the same per-doc arrays.
      val sets = docsF.select(col("doc_id"),
        sort_array(array_distinct(filter(col("tk"), t => length(t) > 0)))
          .as("ts"))
      val scored = cand
        .join(sets.select(col("doc_id").as("sd1"), col("ts").as("t1")),
          col("d1") === col("sd1"))
        .join(sets.select(col("doc_id").as("sd2"), col("ts").as("t2")),
          col("d2") === col("sd2"))
        .select(col("d1"), col("d2"),
          // hash-based O(|A|+|B|) intersect; == the filter/contains count
          // on these collect_set (duplicate-free) inputs — round 18
          size(array_intersect(col("t1"), col("t2"))).as("inter"),
          size(col("t1")).as("n1"), size(col("t2")).as("n2"))
      scored.select(col("d1"), col("d2"),
        round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
        .withColumn("is_dup", col("jaccard") >= 0.5)
        .orderBy("d1", "d2")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 200)
                          WHERE length(tok) > 0),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 sets AS (SELECT doc_id, list_sort(list(tok)) AS ts
                          FROM toks GROUP BY doc_id)
            SELECT d1, d2,
                   round(CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS DOUBLE)
                         / (len(s1.ts) + len(s2.ts)
                            - len(list_filter(s1.ts, x -> list_contains(s2.ts, x)))), 4) AS jaccard,
                   round(CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS DOUBLE)
                         / (len(s1.ts) + len(s2.ts)
                            - len(list_filter(s1.ts, x -> list_contains(s2.ts, x)))), 4) >= 0.5 AS is_dup
            FROM cand
            JOIN sets s1 ON d1 = s1.doc_id
            JOIN sets s2 ON d2 = s2.doc_id
            ORDER BY d1, d2"""))

  /** SimHash near-dup at scale: 32-bit simhash per doc, banded into 4×8-bit
    * bands; candidate pairs meet only inside band-value buckets (EQUI-join,
    * never all-pairs — the pigeonhole guarantee: any pair with hamming ≤ 3
    * leaves at least one of the 4 bands intact, so banding has 100% recall
    * at the ≤3 threshold), then the exact hamming distance bit_count(xor)
    * verifies candidates only. Complements minhash banding: simhash buckets
    * by bit-pattern similarity (cosine-of-token-sets-ish), minhash by
    * Jaccard.
    *
    * 100-TB notes: the signature is one bigint per doc (tiny); the join is
    * shuffle-hash on (band_no, band_val); verify cost ∝ candidates. The
    * doc_id < 300 cap bounds the FIXTURE bucket skew (the synthetic corpus
    * shares a ~40-word vocabulary, so uncapped band buckets degenerate);
    * real corpora spread over 2^8 values per band. The signature frame is
    * memoized: it feeds both sides of the self-join, and without it the
    * tokenize→bit-vote subtree executes twice (the text_tfidf lesson). */
  val textSimhashBandPairs = Q(
    "text_simhash_band_pairs",
    (spark, sfDir) => {
      // per-session memo: the signature frame feeds both sides of the
      // band self-join, and bench reps reuse one stored copy instead of
      // stacking a fresh one per invocation
      val sig = graft.util.Memo.frame(spark,
          s"$sfDir:simhash_sig:${Tables.tableKey(sfDir, "documents")}") {
        docToks(spark, sfDir)
          .filter(col("doc_id") < 300)
          .select(col("doc_id"), explode(col("tk")).as("tok"))
          .filter(length(col("tok")) > 0)
          .distinct()
          .select(col("doc_id"), substring(md5(col("tok")), 1, 8).as("h8"))
          .select(col("doc_id"), col("h8"),
            explode(sequence(lit(0), lit(31))).as("p"))
          .select(col("doc_id"), col("p"),
            expr("((instr('0123456789abcdef', substring(h8, 1 + p div 4, 1)) - 1) >> (p % 4)) & 1")
              .as("bit"))
          .groupBy("doc_id", "p")
          .agg(sum(col("bit") * 2 - 1).as("s"))
          .groupBy("doc_id")
          .agg(sum(expr("shiftleft(CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT), p)"))
            .cast("bigint").as("sh"))
      }
      val bands = sig.select(col("doc_id"), col("sh"),
        posexplode(array((0 until 4).map(b =>
          expr(s"(sh >> ${8 * b}) & 255")): _*)).as(Seq("band_no", "bval")))
      val l = bands.select(col("doc_id").as("d1"), col("sh").as("s1"),
        col("band_no"), col("bval"))
      val r = bands.select(col("doc_id").as("d2"), col("sh").as("s2"),
        col("band_no").as("bn2"), col("bval").as("bv2"))
      l.join(r, col("band_no") === col("bn2") && col("bval") === col("bv2"))
        .filter(col("d1") < col("d2"))
        .select(col("d1"), col("d2"),
          expr("CAST(bit_count(s1 ^ s2) AS BIGINT)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
        .orderBy("d1", "d2")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 300)
                          WHERE length(tok) > 0),
                 h AS (SELECT doc_id, substring(md5(tok), 1, 8) AS h8 FROM toks),
                 bits AS (SELECT doc_id, p,
                            ((strpos('0123456789abcdef', substring(h8, 1 + p // 4, 1)) - 1)
                             >> (p % 4)) & 1 AS bit
                          FROM h, (SELECT unnest(generate_series(0, 31)) AS p)),
                 sums AS (SELECT doc_id, p, sum(2 * bit - 1) AS s
                          FROM bits GROUP BY doc_id, p),
                 sig AS (SELECT doc_id,
                           CAST(sum(CAST(CASE WHEN s >= 0 THEN 1 ELSE 0 END AS BIGINT) << p) AS BIGINT) AS sh
                         FROM sums GROUP BY doc_id),
                 bands AS (SELECT doc_id, sh, b AS band_no, (sh >> (8 * b)) & 255 AS bval
                           FROM sig, (SELECT unnest(generate_series(0, 3)) AS b))
            SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
            FROM bands a JOIN bands b
              ON a.band_no = b.band_no AND a.bval = b.bval
            WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= 3
            ORDER BY d1, d2"""))

  /** Edit-distance near-dup verify: exact Levenshtein over a capped pair
    * set (doc_id < 40 — the DP is O(len²) per pair, inherently the VERIFY
    * stage of a dedup pipeline, never the candidate generator; banding
    * generates, this confirms). Both engines implement the classic integer
    * DP, so distances match exactly; the normalized similarity
    * 1 − dist/max(len) divides identical integers-as-doubles —
    * bit-identical. */
  val textEditDistancePairs = Q(
    "text_edit_distance_pairs",
    (spark, sfDir) => {
      val d = docToks(spark, sfDir).filter(col("doc_id") < 40)
      val a = d.select(col("doc_id").as("d1"), col("text").as("t1"))
      val b = d.select(col("doc_id").as("d2"), col("text").as("t2"))
      a.join(b, col("d1") < col("d2"))
        // the broadcast self-join emits all pairs in the LEFT side's single
        // input partition — repartition spreads the O(len²) DP work across
        // the cluster, and the distance is computed once per pair (not once
        // per referencing column)
        .repartition(col("d1"), col("d2"))
        .withColumn("dist", levenshtein(col("t1"), col("t2")).cast("bigint"))
        .select(col("d1"), col("d2"), col("dist"),
          (lit(1.0) - col("dist").cast("double")
            / greatest(length(col("t1")), length(col("t2"))).cast("double"))
            .as("sim"))
        .orderBy("d1", "d2")
    },
    Some("""SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist,
                   1.0 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
                       / CAST(greatest(length(a.text), length(b.text)) AS DOUBLE) AS sim
            FROM documents a JOIN documents b ON a.doc_id < b.doc_id
            WHERE a.doc_id < 40 AND b.doc_id < 40
            ORDER BY d1, d2"""))

  /** Character-trigram frequency profile per language — the statistical
    * core of n-gram language ID (the profile a classifier compares
    * against): top-3 trigrams per lang, count desc with trigram-asc
    * tiebreak. One explode pass, one (lang, tri) hash agg, a per-lang
    * top-k window over the (tiny) aggregate — nothing here grows faster
    * than the distinct-trigram count at 100 TB. */
  val textTrigramProfile = Q(
    "text_trigram_profile",
    (spark, sfDir) => {
      graft.functions.CharNgrams.register(spark)
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("tri"))
      docToks(spark, sfDir)
        // the doc_id spread lives in the shared docToks cache (built at
        // the session's shuffle parallelism): the 1.5M-trigram
        // explode+partial-agg runs across the full parallelism without a
        // per-query repartition constant. At production scale the many
        // input splits make the spread a no-op cost-wise.
        // char_ngrams_native builds the trigram ARRAY in one O(bytes)
        // pass (the r8→r9 fix: the transform(sequence, substring) form
        // re-seeks codepoints from byte 0 per position — O(chars²) per
        // doc — and was the suite's slowest query at 3.77 s median);
        // exploding the array still emits 3-char strings only, never the
        // full text per position
        .select(col("lang"),
          explode(expr("char_ngrams_native(text, 3)")).as("tri"))
        .groupBy("lang", "tri")
        .agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 3)
        .orderBy("lang", "rk")
    },
    Some("""SELECT lang, tri, n, rk FROM (
              SELECT lang, tri, n,
                     CAST(row_number() OVER (PARTITION BY lang
                                             ORDER BY n DESC, tri) AS BIGINT) AS rk
              FROM (SELECT lang, substring(text, p, 3) AS tri, count(*) AS n
                    FROM (SELECT lang, text,
                                 unnest(generate_series(1, length(text) - 2)) AS p
                          FROM documents)
                    GROUP BY lang, tri))
            WHERE rk <= 3 ORDER BY lang, rk"""))

  /** Blocklist filtering — the "bad-word" safety pass of an LLM data
    * pipeline: per doc, count blocklisted tokens, flag docs whose hit
    * ratio exceeds 10%, and emit the redacted text. Counting and
    * redaction use the SAME tokenization (whole-token membership) so the
    * quality columns can never disagree with the emitted text — a regex
    * \b redactor would also rewrite inside hyphenated/punctuated tokens
    * the counter ignores. Pure per-row expressions — embarrassingly
    * parallel, no shuffle before the final presentation sort. */
  val textBlocklistFilter = Q(
    "text_blocklist_filter",
    (spark, sfDir) =>
      docToks(spark, sfDir)
        .withColumn("n_tokens", size(col("tk")).cast("bigint"))
        .withColumn("n_hits",
          size(expr(
            "filter(tk, t -> t IN ('slow','error','big'))"))
            .cast("bigint"))
        .withColumn("hit_ratio",
          col("n_hits").cast("double") / col("n_tokens").cast("double"))
        .select(col("doc_id"), col("n_tokens"), col("n_hits"),
          round(col("hit_ratio"), 4).as("hit_ratio"),
          (col("hit_ratio") > 0.1).as("flagged"),
          expr("""array_join(transform(tk,
                    t -> CASE WHEN t IN ('slow','error','big')
                              THEN '[X]' ELSE t END), ' ')""")
            .as("redacted"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('slow','error','big'))) AS BIGINT) AS n_hits,
              round(CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('slow','error','big'))) AS DOUBLE)
                    / len(string_split(text, ' ')), 4) AS hit_ratio,
              CAST(len(list_filter(string_split(text, ' '),
                       t -> t IN ('slow','error','big'))) AS DOUBLE)
                    / len(string_split(text, ' ')) > 0.1 AS flagged,
              array_to_string(list_transform(string_split(text, ' '),
                t -> CASE WHEN t IN ('slow','error','big')
                          THEN '[X]' ELSE t END), ' ') AS redacted
            FROM documents ORDER BY doc_id"""))

  /** Gopher-style repetition signals per doc: the fraction of bigram mass
    * held by the single most frequent bigram (`top_frac`) and the distinct
    * fraction (`uniq_frac`) — high top_frac / low uniq_frac marks looping,
    * boilerplate-heavy documents worth dropping from training data. One
    * explode, two doc-local aggs; all shuffles key on doc_id. */
  val textRepetitionStats = Q(
    "text_repetition_stats",
    (spark, sfDir) => {
      // Round-18 (guide §2.4): adjacent-pair construction is row-local
      // over the cached token array — the old posexplode + lead() window
      // shuffled and sorted the full ~480k-token stream by (doc_id, pos)
      // just to look one element ahead. The transform-over-sequence form
      // emits the identical bigram multiset (element_at is 1-based; docs
      // with <2 tokens produced no lead rows before and are filtered the
      // same way here), so the aggregates below are unchanged.
      docToks(spark, sfDir)
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"),
          explode(expr(
            """transform(sequence(1, size(tk) - 1),
              |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1)))"""
              .stripMargin)).as("bigram"))
        .groupBy("doc_id", "bigram").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(sum("n").as("n_bigrams"), max("n").as("max_bigram_n"),
          count(lit(1)).as("n_uniq"))
        .select(col("doc_id"), col("n_bigrams"), col("max_bigram_n"),
          round(col("max_bigram_n").cast("double") / col("n_bigrams"), 4)
            .as("top_frac"),
          round(col("n_uniq").cast("double") / col("n_bigrams"), 4)
            .as("uniq_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, generate_subscripts(string_split(text,' '), 1) AS pos,
                     unnest(string_split(text,' ')) AS tok
              FROM documents),
            bi AS (
              SELECT doc_id,
                     tok || ' ' || lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
              FROM toks),
            cnt AS (
              SELECT doc_id, bigram, count(*) AS n FROM bi WHERE bigram IS NOT NULL
              GROUP BY doc_id, bigram)
            SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
                   CAST(max(n) AS BIGINT) AS max_bigram_n,
                   round(CAST(max(n) AS DOUBLE)/sum(n), 4) AS top_frac,
                   round(CAST(count(*) AS DOUBLE)/sum(n), 4) AS uniq_frac
            FROM cnt GROUP BY doc_id ORDER BY doc_id"""))

  /** Keyword extraction: top-3 tf-idf terms per document (doc_id < 100,
    * same cap/scoring as text_tfidf), score-desc with term-asc tiebreak.
    * Adds only a per-doc top-k window on the tf aggregate — the corpus-wide
    * df statistics still come from the single tokenize pass. */
  val textKeywordTopk = Q(
    "text_keyword_topk",
    (spark, sfDir) => {
      val withDf = tfDf(spark, sfDir) // shared memo — round 18
      val tot = docToks(spark, sfDir).agg(count(lit(1)).as("n_docs"))
      val wk = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      withDf.filter(col("doc_id") < 100)
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("term"),
          (col("tf").cast("double") * (col("n_docs").cast("double") + 1.0)
            / (col("df").cast("double") + 1.0)).as("score"))
        .withColumn("rk", row_number().over(wk).cast("bigint"))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"),
          round(col("score"), 4).as("score"))
        .orderBy("doc_id", "rk")
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 t AS (SELECT doc_id, term, count(*) AS tf
                       FROM toks GROUP BY doc_id, term),
                 td AS (SELECT doc_id, term, tf,
                               count(*) OVER (PARTITION BY term) AS df FROM t),
                 n AS (SELECT count(*) AS n_docs FROM documents),
                 scored AS (
                   SELECT doc_id, term,
                          CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) + 1.0)
                            / (CAST(df AS DOUBLE) + 1.0) AS score
                   FROM td CROSS JOIN n WHERE doc_id < 100)
            SELECT doc_id, rk, term, round(score, 4) AS score FROM (
              SELECT doc_id, term, score,
                     CAST(row_number() OVER (PARTITION BY doc_id
                                             ORDER BY score DESC, term) AS BIGINT) AS rk
              FROM scored)
            WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** Corpus-level top-20 token trigrams — the vocabulary/phrase census a
    * data audit starts from. The top-k is `ORDER BY ... LIMIT`, which Spark
    * plans as TakeOrderedAndProject (per-partition heaps + a 20-row driver
    * merge) — no global sort, no single-partition window, so the reduction
    * is safe however many distinct trigrams 100 TB yields. */
  val textNgramTopk = Q(
    "text_ngram_topk",
    (spark, sfDir) => {
      // the doc_id spread comes from the shared docToks cache — no
      // per-query repartition constant (round-5 verdict #7). Round-18
      // (guide §2.4): trigram construction is row-local over the cached
      // token array — the old posexplode + two lead() windows shuffled
      // and sorted the full token stream by (doc_id, pos) just to look
      // two elements ahead; identical trigram multiset (docs with <3
      // tokens produced only null-lead rows before, filtered both ways).
      docToks(spark, sfDir)
        .filter(size(col("tk")) >= 3)
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 2),
            |  i -> concat_ws(' ', element_at(tk, i), element_at(tk, i + 1),
            |                 element_at(tk, i + 2)))""".stripMargin))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram"))
        .limit(20)
    },
    Some("""WITH toks AS (
              SELECT doc_id, generate_subscripts(string_split(text,' '), 1) AS pos,
                     unnest(string_split(text,' ')) AS tok
              FROM documents),
            tri AS (
              SELECT tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS trigram
              FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            SELECT trigram, CAST(count(*) AS BIGINT) AS n
            FROM tri WHERE trigram IS NOT NULL
            GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20"""))

  /** Benchmark decontamination: count each candidate doc's distinct 8-token
    * shingles that also appear in the benchmark slice (source = 'src0').
    * The overlap is a hash EQUI-join on md5(shingle) — candidates meet the
    * benchmark set only inside matching hash buckets, never all-pairs, and
    * the benchmark side of a real decontamination run (a few eval suites)
    * is broadcast-sized however big the training corpus is. */
  val textContamination = Q(
    "text_contamination",
    (spark, sfDir) => {
      // Single shingle pass: with benchmark and candidates carved from ONE
      // corpus, a bench-filter + broadcast-join formulation re-derives the
      // explode subtree three times (bench, hits, totals) — Catalyst has
      // no subtree reuse. A membership flag + max-over-shingle window
      // computes the shingles once. (With a SEPARATE benchmark corpus —
      // the production decontamination shape — broadcast its shingle set
      // into an equi-join instead; the eval-suite side is always tiny.)
      val sh = docToks(spark, sfDir)
        .select(col("doc_id"), col("source"), col("tk"))
        // sequence(1, greatest(n-7, 1)) + a p <= n-7 filter: the bare
        // greatest(n-7, 0) form would make sequence(1, 0) STEP BACKWARD
        // ([1,0]) and emit a bogus position for docs under 8 tokens
        .select(col("doc_id"), col("source"), col("tk"),
          explode(expr("sequence(1, greatest(size(tk) - 7, 1))")).as("p"))
        .filter(col("p") <= size(col("tk")) - 7)
        .select(col("doc_id"), (col("source") === "src0").as("is_bench"),
          md5(expr("array_join(slice(tk, p, 8), ' ')")).as("shingle"))
        .distinct()
      sh.withColumn("hit",
          max(when(col("is_bench"), 1L).otherwise(0L))
            .over(Window.partitionBy("shingle")))
        .filter(!col("is_bench"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), sum("hit").as("n_hits"))
        .select(col("doc_id"), col("n_shingles"), col("n_hits"),
          round(col("n_hits").cast("double") / col("n_shingles"), 4)
            .as("contaminated_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
            sh AS (
              SELECT doc_id, source,
                     unnest(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
                            p -> md5(array_to_string(tk[p:p+7], ' ')))) AS shingle
              FROM toks),
            bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
            cand AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE source <> 'src0'),
            hits AS (
              SELECT c.doc_id, count(*) AS n_hits
              FROM cand c JOIN bench b ON c.shingle = b.shingle
              GROUP BY c.doc_id),
            tot AS (SELECT doc_id, count(*) AS n_shingles FROM cand GROUP BY doc_id)
            SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   round(CAST(coalesce(h.n_hits, 0) AS DOUBLE)/t.n_shingles, 4)
                     AS contaminated_frac
            FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Per-doc shingle novelty (round-12) — for each doc, the fraction of
    * its distinct 8-token shingles whose FIRST occurrence (min doc_id —
    * ingestion order's stand-in) is this doc: the novelty profile a
    * curation team plots as a corpus grows (novelty trending toward 0
    * while volume grows = the crawl is re-fetching what it has; the
    * doc-level readout ranks which shards still contribute new text).
    * Complements text_contamination (overlap vs a FIXED benchmark) and
    * text_chunk_dedup (global duplicated-chunk census) with the
    * per-document incremental-value signal. Exact integer counts; one
    * identical-operand division rounded at 4. Docs under 8 tokens have
    * no shingles and drop out in BOTH engines by construction.
    *
    * 100-TB shape: shingle explode (guarded sequence) + one min-over-
    * shingle window (hash-partitioned on the content address, exactly
    * text_contamination's one-pass trick) + doc-keyed census — equi-hash
    * shuffles only, never a pair scan. */
  val textShingleNovelty = Q(
    "text_shingle_novelty",
    (spark, sfDir) => {
      val sh = docToks(spark, sfDir)
        .select(col("doc_id"), col("tk"),
          explode(expr("sequence(1, greatest(size(tk) - 7, 1))")).as("p"))
        .filter(col("p") <= size(col("tk")) - 7)
        .select(col("doc_id"),
          md5(expr("array_join(slice(tk, p, 8), ' ')")).as("shingle"))
        .distinct()
      sh.withColumn("fd",
          min(col("doc_id")).over(Window.partitionBy("shingle")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          round(col("n_novel").cast("double")
            / col("n_shingles").cast("double"), 4).as("novelty"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (
              SELECT doc_id, string_split(text,' ') AS tk FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(generate_series(1, greatest(len(tk) - 7, 0)),
                            p -> md5(array_to_string(tk[p:p+7], ' ')))) AS shingle
              FROM toks),
            f AS (SELECT doc_id, shingle,
                         min(doc_id) OVER (PARTITION BY shingle) AS fd
                  FROM sh)
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
                   CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                   round(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END)
                              AS DOUBLE) / count(*), 4) AS novelty
            FROM f GROUP BY doc_id ORDER BY doc_id"""))

  /** Chunk-level (sub-document) dedup census: 8-token chunks at stride 4,
    * content-addressed by md5; chunks occurring more than once — the
    * passage/boilerplate-level near-dup signal document-level hashing
    * misses. One explode + one hash agg keyed on content hash; at 100 TB
    * the dedup decision stays a shuffle on the chunk hash, never a pair
    * comparison. */
  /** Full 8-token chunks at stride 4, shared by text_chunk_dedup and
    * text_dedup_pipeline — ONE implementation via Ops.tokenChunksArr over
    * a `tk`-bearing frame from docToks (the n_chunk_tokens = 8 filter
    * keeps exactly the full windows; short tail chunks and sub-8-token
    * docs drop out, equivalent to the explicit (size-8) div 4 + 1
    * bound). */
  private def chunkShingles(docs: org.apache.spark.sql.DataFrame) =
    graft.ops.Ops.tokenChunksArr(docs, col("doc_id"), col("tk"),
        chunkSize = 8, stride = 4)
      .filter(col("n_chunk_tokens") === 8)
      .select(col("doc_id"), col("chunk_hash").as("h"))

  val textChunkDedup = Q(
    "text_chunk_dedup",
    (spark, sfDir) =>
      chunkShingles(docToks(spark, sfDir))
        .groupBy(col("h").as("chunk_hash"))
        .agg(count(lit(1)).as("n_total"),
          countDistinct("doc_id").as("n_docs"),
          min("doc_id").as("first_doc"))
        .filter(col("n_total") > 1)
        .orderBy("chunk_hash"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
            ch AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest((len(tk)-8)//4 + 1, 0)),
                            i -> md5(array_to_string(tk[(i-1)*4+1:(i-1)*4+8], ' ')))) AS h
              FROM toks WHERE len(tk) >= 8)
            SELECT h AS chunk_hash, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc
            FROM ch GROUP BY h HAVING count(*) > 1
            ORDER BY chunk_hash"""))

  /** Exact substring dedup (round-11, VERDICT-r10 #2) — maximal shared
    * token runs ≥ 16 tokens between doc pairs via Ops.sharedTokenRuns:
    * stride-1 8-token shingle content addressing + gaps-and-islands
    * merge of consecutive matching positions along each (d1, d2,
    * diagonal). The exact pass the stride-4 chunk census
    * (text_chunk_dedup, the Lee-2021 production approximation) trades
    * away: a boundary-offset duplicate — a span repeated at an offset
    * that is not a multiple of 4 — misaligns every stride-4 chunk hash
    * and is invisible to the census, but shares all its interior
    * stride-1 windows here (OpsSpec pins one). Hash-keyed equi-joins
    * only; positions 1-based; output one row per maximal run under the
    * (d1, d2, d1_start) total order.
    *
    * 100-TB shape: see Ops.sharedTokenRuns — high-entropy shingles keep
    * the content-address join's buckets tiny (measured sf0.1: Σc² =
    * 1.1·Σc), and the islands merge is one window + agg on (pair,
    * diagonal); production adds a hot-shingle frequency cap before the
    * join (boilerplate guard), the graded op is exact. */
  /** The memoized maximal-shared-run frame (8-token shingles, ≥16-token
    * runs) — the substring tier's materialized detection store, feeding
    * BOTH text_substring_dedup (the run list) and text_substring_coverage
    * (the removal criterion), same pattern as dedupVerifiedEdges: the
    * shingle explode + content-address join runs once per (session,
    * corpus generation), consumers re-read the tiny run frame. */
  private def substringRuns(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:subruns:${Tables.tableKey(sfDir, "documents")}") {
      substringRunsBuild(spark, sfDir)
    }

  /** The run detection `substringRuns` stores. */
  private[graft] def substringRunsBuild(spark: SparkSession, sfDir: String)
      : DataFrame =
    graft.ops.Ops.sharedTokenRuns(docToks(spark, sfDir),
      col("doc_id"), col("tk"), shingle = 8, minRunTokens = 16)

  val textSubstringDedup = Q(
    "text_substring_dedup",
    (spark, sfDir) =>
      substringRuns(spark, sfDir)
        .select(col("d1"), col("d2"),
          col("d1_start").cast("bigint").as("d1_start"),
          col("d2_start").cast("bigint").as("d2_start"),
          col("run_tokens"))
        .orderBy("d1", "d2", "d1_start", "d2_start"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk
                          FROM documents),
                 sh AS (SELECT doc_id, p,
                               md5(array_to_string(tk[p:p+7], ' ')) AS h
                        FROM toks,
                             unnest(generate_series(1, len(tk)-7)) AS t(p)
                        WHERE len(tk) >= 8),
                 m AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                              a.p AS p1, b.p AS p2
                       FROM sh a JOIN sh b
                         ON a.h = b.h AND a.doc_id < b.doc_id),
                 isl AS (SELECT d1, d2, p1 - p2 AS g, p1, p2,
                                p1 - row_number() OVER (
                                  PARTITION BY d1, d2, p1 - p2
                                  ORDER BY p1) AS isle
                         FROM m),
                 runs AS (SELECT d1, d2, min(p1) AS d1_start,
                                 min(p2) AS d2_start,
                                 count(*) + 7 AS run_tokens
                          FROM isl GROUP BY d1, d2, g, isle)
            SELECT d1, d2, d1_start, d2_start, run_tokens
            FROM runs WHERE run_tokens >= 16
            ORDER BY d1, d2, d1_start, d2_start"""))

  /** Substring-dedup REMOVAL CRITERION (round-11) — the decision layer
    * over text_substring_dedup's detections, completing the Lee-2021
    * pass: per doc, what fraction of its tokens lies inside a ≥16-token
    * run shared with ANY other doc. A run covers BOTH sides, so each
    * (d1,d2) run contributes two one-sided intervals; overlapping /
    * adjacent intervals on the same doc (a span shared with several
    * partners) must not double-count, so coverage goes through
    * Ops.intervalUnion (the ts tier's gaps-and-islands union — token
    * positions ride as half-open [start, start+len) exactly like
    * timestamps). drop_flag is the exact-integer form 2·covered ≥
    * n_tokens (never a float threshold compare). Only docs with ≥1 run
    * appear — the pipeline's removal worklist, not a full census.
    *
    * 100-TB shape: sharedTokenRuns' equi-join (runs are few), then one
    * window + two aggs keyed on doc_id; the n_tokens join probes the
    * tokenized cache. */
  val textSubstringCoverage = Q(
    "text_substring_coverage",
    (spark, sfDir) => {
      val runs = substringRuns(spark, sfDir)
      val sides = runs.select(col("d1").as("doc_id"),
          col("d1_start").cast("bigint").as("s"),
          (col("d1_start") + col("run_tokens")).cast("bigint").as("e"),
          col("d2").as("tb"))
        .unionByName(runs.select(col("d2").as("doc_id"),
          col("d2_start").cast("bigint").as("s"),
          (col("d2_start") + col("run_tokens")).cast("bigint").as("e"),
          col("d1").as("tb")))
      val un = graft.ops.Ops.intervalUnion(sides, Seq(col("doc_id")),
        col("s"), col("e"), col("tb"))
      val nt = docToks(spark, sfDir)
        .select(col("doc_id"), size(col("tk")).cast("bigint").as("n_tokens"))
      un.join(nt, "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          col("n_intervals").as("n_runs"), col("n_islands"),
          col("covered").as("covered_tokens"),
          round(col("covered").cast("double")
            / col("n_tokens").cast("double"), 6).as("coverage_frac"),
          (col("covered") * 2 >= col("n_tokens")).as("drop_flag"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS tk
                          FROM documents),
                 sh AS (SELECT doc_id, p,
                               md5(array_to_string(tk[p:p+7], ' ')) AS h
                        FROM toks,
                             unnest(generate_series(1, len(tk)-7)) AS t(p)
                        WHERE len(tk) >= 8),
                 m AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                              a.p AS p1, b.p AS p2
                       FROM sh a JOIN sh b
                         ON a.h = b.h AND a.doc_id < b.doc_id),
                 isl0 AS (SELECT d1, d2, p1 - p2 AS g, p1, p2,
                                 p1 - row_number() OVER (
                                   PARTITION BY d1, d2, p1 - p2
                                   ORDER BY p1) AS isle
                          FROM m),
                 runs AS (SELECT * FROM (
                            SELECT d1, d2, min(p1) AS d1_start,
                                   min(p2) AS d2_start,
                                   count(*) + 7 AS run_tokens
                            FROM isl0 GROUP BY d1, d2, g, isle)
                          WHERE run_tokens >= 16),
                 sides AS (SELECT d1 AS doc_id, d1_start AS s,
                                  d1_start + run_tokens AS e, d2 AS tb
                           FROM runs
                           UNION ALL
                           SELECT d2 AS doc_id, d2_start AS s,
                                  d2_start + run_tokens AS e, d1 AS tb
                           FROM runs),
                 ord AS (SELECT doc_id, s, e, tb,
                                max(e) OVER (PARTITION BY doc_id
                                  ORDER BY s, e, tb
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS runmax
                         FROM sides),
                 brk AS (SELECT doc_id, s, e,
                                sum(CASE WHEN runmax IS NULL OR s <= runmax
                                         THEN 0 ELSE 1 END)
                                  OVER (PARTITION BY doc_id
                                        ORDER BY s, e, tb
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS island
                         FROM ord),
                 un AS (SELECT doc_id, island, min(s) AS s, max(e) AS e,
                               count(*) AS niv
                        FROM brk GROUP BY doc_id, island),
                 agg AS (SELECT doc_id,
                                CAST(sum(niv) AS BIGINT) AS n_runs,
                                count(*) AS n_islands,
                                CAST(sum(e - s) AS BIGINT) AS covered_tokens
                         FROM un GROUP BY doc_id),
                 nt AS (SELECT doc_id,
                               CAST(len(string_split(text,' ')) AS BIGINT)
                                 AS n_tokens
                        FROM documents)
            SELECT agg.doc_id, n_tokens, n_runs, n_islands, covered_tokens,
                   round(CAST(covered_tokens AS DOUBLE)
                         / CAST(n_tokens AS DOUBLE), 6) AS coverage_frac,
                   covered_tokens * 2 >= n_tokens AS drop_flag
            FROM agg JOIN nt USING (doc_id)
            ORDER BY doc_id"""))

  /** Corpus-driven stopword discovery: terms present in more than 60% of
    * documents (document frequency, not raw counts). The output feeds
    * text_quality-style stopword-ratio scoring without a hand-maintained
    * list.
    *
    * 100-TB shape: each document's term bag is row-local, so its rows are
    * already the distinct (doc, term) pairs (no DISTINCT shuffle); the df
    * agg shuffles on term; the one-row total is broadcast. */
  val textStopwordDiscovery = Q(
    "text_stopword_discovery",
    (spark, sfDir) => {
      val n = docToks(spark, sfDir).agg(count(lit(1)).as("n_docs"))
      docTerms(spark, sfDir)
        .groupBy("term").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter(col("df").cast("double") / col("n_docs") > 0.6)
        .select(col("term"), col("df"),
          round(col("df").cast("double") / col("n_docs"), 4).as("doc_frac"))
        .orderBy("term")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id,
                                 unnest(string_split(lower(text),' ')) AS term
                          FROM documents),
            dfq AS (SELECT term, count(*) AS df FROM toks
                    WHERE length(term) > 0 GROUP BY term),
            n AS (SELECT count(*) AS n_docs FROM documents)
            SELECT term, CAST(df AS BIGINT) AS df,
                   round(CAST(df AS DOUBLE)/n_docs, 4) AS doc_frac
            FROM dfq CROSS JOIN n WHERE CAST(df AS DOUBLE)/n_docs > 0.6
            ORDER BY term"""))

  /** The composed dedup pipeline as one graded query — stage-survivor
    * census: exact content dedup, then flag docs whose 8-token chunks are
    * >50% shared with an EARLIER doc (sub-document near-dup), then the
    * final corpus size. Every stage is hash-keyed (content hash, chunk
    * hash, doc id) — the whole pipeline is shuffles on hashes, no pair
    * comparisons, which is why this composition is the 100-TB recipe. */
  val textDedupPipeline = Q(
    "text_dedup_pipeline",
    (spark, sfDir) => {
      val docs = docToks(spark, sfDir)
      val survivors = graft.ops.Ops
        .exactDedup(docs, md5(col("text")), col("doc_id"))
        .select("doc_id", "tk")
      // owner via a window on the chunk hash, NOT a groupBy+self-join: the
      // join formulation makes the tokenize→explode subtree appear three
      // times in the plan and Catalyst recomputes it per occurrence (the
      // round-3 text_tfidf lesson); this shape computes chunks ONCE —
      // window on h, then one per-doc aggregate
      val wOwner = Window.partitionBy("h")
      val perDoc = chunkShingles(survivors)
        .withColumn("owner", min("doc_id").over(wOwner))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") > col("owner"), 1L).otherwise(0L)).as("n_shared"))
      val flagged = perDoc
        .filter(col("n_shared").cast("double") / col("n_chunks") > 0.5)
      // one 1-row frame carrying all three counts, stacked to stage rows —
      // each count subtree appears exactly once in the final plan
      docs.agg(count(lit(1)).as("n_in"))
        .crossJoin(survivors.agg(count(lit(1)).as("n_s1")))
        .crossJoin(flagged.agg(count(lit(1)).as("n_fl")))
        .select(expr(
          "stack(4, '0_input', n_in, '1_exact_dedup', n_s1," +
            " '2_chunk_flagged', n_fl, '3_final', n_s1 - n_fl) AS (stage, n)"))
        .orderBy("stage")
    },
    Some("""WITH exact AS (
              SELECT doc_id, md5(text) AS h,
                     row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents),
            survivors1 AS (SELECT doc_id FROM exact WHERE rn = 1),
            toks AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents
                     WHERE doc_id IN (SELECT doc_id FROM survivors1)),
            ch AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, greatest((len(tk)-8)//4 + 1, 0)),
                            i -> md5(array_to_string(tk[(i-1)*4+1:(i-1)*4+8], ' ')))) AS h
              FROM toks WHERE len(tk) >= 8),
            chunk_owner AS (SELECT h, min(doc_id) AS owner FROM ch GROUP BY h),
            shared AS (
              SELECT c.doc_id, count(*) AS n_shared
              FROM ch c JOIN chunk_owner o ON c.h = o.h AND c.doc_id > o.owner
              GROUP BY c.doc_id),
            tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY doc_id),
            flagged AS (
              SELECT t.doc_id FROM tot t JOIN shared s ON t.doc_id = s.doc_id
              WHERE CAST(s.n_shared AS DOUBLE) / t.n_chunks > 0.5)
            SELECT stage, n FROM (
              SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n FROM documents
              UNION ALL SELECT '1_exact_dedup', CAST(count(*) AS BIGINT) FROM survivors1
              UNION ALL SELECT '2_chunk_flagged', CAST(count(*) AS BIGINT) FROM flagged
              UNION ALL SELECT '3_final', CAST((SELECT count(*) FROM survivors1)
                                               - count(*) AS BIGINT) FROM flagged)
            ORDER BY stage"""))

  /** Corpus length histogram with cumulative counts — the first chart of
    * any data audit (and the input to length-based filtering thresholds):
    * 10-token buckets, count + running total. The cumulative window is
    * GLOBAL but sits over the bucket AGGREGATE (tens of rows at any corpus
    * size) — the §7.7-sanctioned place for an unpartitioned window. */
  val textLengthHistogram = Q(
    "text_length_histogram",
    (spark, sfDir) => {
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docToks(spark, sfDir)
        .select(expr("size(tk) div 10").cast("bigint")
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .withColumn("cum_n", sum("n").over(w).cast("bigint"))
        .orderBy("bucket")
    },
    Some("""WITH d AS (SELECT CAST(len(string_split(text,' ')) // 10 AS BIGINT)
                              AS bucket FROM documents),
            c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
                  FROM d GROUP BY bucket)
            SELECT bucket, n,
                   CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_n
            FROM c ORDER BY bucket"""))

  /** Token-rarity quality score (round-8 addition) — the CCNet-style
    * LM-proxy filtering stage of a training-data pipeline, expressed in
    * EXACT integer/rational arithmetic so both engines hash-match: where
    * CCNet scores documents by reference-LM perplexity, the in-engine
    * proxy scores each doc by its tokens' corpus frequencies — docs built
    * from rare tokens (typos, noise, boilerplate IDs) score low and are
    * the filter's catch. Per doc over instance-weighted tokens:
    * avg corpus-count of its tokens, fraction of rare tokens, and its
    * rarest token's count. "Rare" is SCALE-RELATIVE and integer-exact:
    * corpus count ≤ 2 × the rarest term's corpus count (an absolute
    * cutoff like ≤5 is dead on any corpus whose vocabulary is all-common,
    * and a percentile cutoff would compare against an interpolated double
    * whose last ulp may differ between engines). No logs anywhere — libm
    * log2/ln are NOT bit-identical across engines (Math.log vs C libm),
    * so a true log-prob sum could flip a rounded hash; integer counts,
    * integer comparisons and integer-double division are (tf-idf's
    * policy).
    *
    * 100-TB shape: corpus counts are one hash agg on the term key; the
    * score join is an EQUI-join on term (vocabulary can be huge at
    * corpus scale — never broadcast it a-priori, AQE may choose to) over
    * one row per distinct (doc, term) from the row-local term bag, each
    * weighted by its in-document count k; per-doc regroup shuffles on
    * doc_id. All linear, no window over the corpus, derives from the
    * shared docToks frame. */
  val textRarityScore = Q(
    "text_rarity_score",
    (spark, sfDir) => {
      val cnt = termCounts(spark, sfDir) // shared memo — round 18
      val floor = cnt.agg(min(col("cnt")).as("min_corpus_cnt"))
      // k-weighted integer sums over the distinct (doc, term) rows equal
      // the per-token counts and sums exactly
      docTerms(spark, sfDir, "doc_id").join(cnt, Seq("term"))
        .crossJoin(broadcast(floor))
        .groupBy("doc_id")
        .agg(sum(col("k")).as("n_toks"),
          round(sum(col("k") * col("cnt")).cast("double") /
            sum(col("k")).cast("double"), 6).as("avg_tok_count"),
          round(sum(when(col("cnt") <= lit(2) * col("min_corpus_cnt"),
              col("k")).otherwise(0L)).cast("double") /
            sum(col("k")).cast("double"), 6).as("rare_frac"),
          min(col("cnt")).as("min_count"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
                 f AS (SELECT min(cnt) AS min_corpus_cnt FROM c)
            SELECT doc_id, count(*) AS n_toks,
                   round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS avg_tok_count,
                   round(CAST(sum(CASE WHEN cnt <= 2 * min_corpus_cnt
                                       THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 6) AS rare_frac,
                   min(cnt) AS min_count
            FROM toks JOIN c USING (term) CROSS JOIN f
            GROUP BY doc_id ORDER BY doc_id"""))

  /** End-to-end dedup SURVIVOR list (round-8 addition) — the output a
    * production dedup job actually writes: LSH banding generates
    * candidates (the text_minhash_band_pairs shape), exact Jaccard ≥ 0.5
    * verifies them (the text_lsh_dedup_verified stage), verified pairs
    * become an undirected graph, two rounds of min-label propagation
    * (the vec_dup_clusters CC formulation — fixed round count, mirrored
    * exactly by the oracle, so convergence depth cannot diverge between
    * engines) assign each doc a cluster, and the keep-lowest rule marks
    * `cluster == doc_id` as the survivor. Per doc: (doc_id, cluster,
    * is_survivor). The fixed 2-round depth labels only components of
    * diameter ≤ 2 — text_dedup_cc is the convergence-checked sibling
    * (Ops.ccFixpoint, round-11) that iterates the SAME edge list to
    * fixpoint and grades against the true recursive-CTE answer.
    *
    * 100-TB shape: banding → EQUI-joins only; verify touches candidates
    * only; the edge frame is memoized (it feeds both
    * propagation rounds); propagation shuffles on ids. The doc_id < 200
    * cap matches the banding siblings (fixture-vocabulary bucket skew);
    * every stage is the uncapped production shape. */
  /** The dedup tier's ONE verified near-dup edge list (factored round-11):
    * LSH banding generates candidates (text_minhash_band_pairs' shape),
    * exact Jaccard ≥ 0.5 verifies them, verified pairs are symmetrized.
    * Memoized — it feeds text_dedup_survivors (the bounded
    * 2-round variant; kept unigram + doc_id < 200 so the pair of keys
    * grades BOTH banding parameterizations). text_dedup_cc moved to the
    * full-corpus shingle-hash edges (dedupShingleEdges, round-12). */
  private def dedupVerifiedEdges(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val docsF = docToks(spark, sfDir).filter(col("doc_id") < 200)
    val cand = unigramCandPairs(spark, sfDir, 200)
      .select(col("id1").as("d1"), col("id2").as("d2"))
    // row-local set construction — see text_lsh_dedup_verified (round 18)
    val sets = docsF.select(col("doc_id"),
      sort_array(array_distinct(filter(col("tk"), t => length(t) > 0)))
        .as("ts"))
    val dup = cand
      .join(sets.select(col("doc_id").as("sd1"), col("ts").as("t1")),
        col("d1") === col("sd1"))
      .join(sets.select(col("doc_id").as("sd2"), col("ts").as("t2")),
        col("d2") === col("sd2"))
      .select(col("d1"), col("d2"),
        // hash-based O(|A|+|B|) intersect; == the filter/contains count
        // on these collect_set (duplicate-free) inputs — round 18
        size(array_intersect(col("t1"), col("t2"))).as("inter"),
        size(col("t1")).as("n1"), size(col("t2")).as("n2"))
      .filter(round(col("inter").cast("double")
        / (col("n1") + col("n2") - col("inter")), 4) >= 0.5)
      .select("d1", "d2")
    graft.util.Memo.frame(spark,
        s"$sfDir:dedup_surv_edges:${Tables.tableKey(sfDir, "documents")}") {
      dup.unionByName(dup.select(col("d2").as("d1"), col("d1").as("d2")))
    }
  }

  val textDedupSurvivors = Q(
    "text_dedup_survivors",
    (spark, sfDir) => {
      val docsF = docToks(spark, sfDir).filter(col("doc_id") < 200)
      val edges = dedupVerifiedEdges(spark, sfDir)
      def propagate(labels: org.apache.spark.sql.DataFrame) =
        labels.join(
          edges.join(labels.select(col("doc_id").as("dx"), col("lbl").as("nlbl")),
            col("d2") === col("dx"))
            .groupBy("d1").agg(min(col("nlbl")).as("mn")),
          col("doc_id") === col("d1"), "left")
          .select(col("doc_id"),
            when(col("mn").isNull || col("lbl") < col("mn"), col("lbl"))
              .otherwise(col("mn")).as("lbl"))
      val l0 = docsF.select(col("doc_id"), col("doc_id").as("lbl"))
      propagate(propagate(l0))
        .select(col("doc_id"), col("lbl").as("cluster"),
          (col("lbl") === col("doc_id")).as("is_survivor"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 200)
                          WHERE length(tok) > 0),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 sets AS (SELECT doc_id, list_sort(list(tok)) AS ts
                          FROM toks GROUP BY doc_id),
                 dup AS (SELECT d1, d2 FROM cand
                         JOIN sets s1 ON d1 = s1.doc_id
                         JOIN sets s2 ON d2 = s2.doc_id
                         WHERE round(CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS DOUBLE)
                                     / (len(s1.ts) + len(s2.ts)
                                        - len(list_filter(s1.ts, x -> list_contains(s2.ts, x)))), 4) >= 0.5),
                 edges AS (SELECT d1, d2 FROM dup
                           UNION ALL SELECT d2 AS d1, d1 AS d2 FROM dup),
                 l0 AS (SELECT doc_id, doc_id AS lbl FROM documents WHERE doc_id < 200),
                 n1 AS (SELECT e.d1, min(l.lbl) AS mn FROM edges e
                        JOIN l0 l ON e.d2 = l.doc_id GROUP BY e.d1),
                 l1 AS (SELECT l0.doc_id,
                               CASE WHEN n1.mn IS NULL OR l0.lbl < n1.mn
                                    THEN l0.lbl ELSE n1.mn END AS lbl
                        FROM l0 LEFT JOIN n1 ON l0.doc_id = n1.d1),
                 n2 AS (SELECT e.d1, min(l.lbl) AS mn FROM edges e
                        JOIN l1 l ON e.d2 = l.doc_id GROUP BY e.d1),
                 l2 AS (SELECT l1.doc_id,
                               CASE WHEN n2.mn IS NULL OR l1.lbl < n2.mn
                                    THEN l1.lbl ELSE n2.mn END AS lbl
                        FROM l1 LEFT JOIN n2 ON l1.doc_id = n2.d1)
            SELECT doc_id, lbl AS cluster, lbl = doc_id AS is_survivor
            FROM l2 ORDER BY doc_id"""))

  /** FULL-CORPUS verified near-dup edge list (round-12, VERDICT-r11 #1 —
    * lifts the dedup-graph tier's `doc_id < 200` cap): banding over
    * stride-1 8-TOKEN-SHINGLE-HASH sets instead of unigram token sets.
    * The fixture vocabulary is ~30 words, so every doc shares most of
    * the vocabulary and unigram token-set minhash collides corpus-wide
    * (the degeneracy behind the old cap); 8-token shingles draw from a
    * ~30^8 space — measured hot-shingle multiplicity ≤ 4 docs and 256
    * candidate pairs across all 5,000 docs at sf0.1, so full-width
    * banding stays selective. minhash 8 hashes / 4 bands of 2 rows
    * (LSH threshold ≈ (1/4)^(1/2) = 0.5); exact shingle-set Jaccard
    * ≥ 0.5 verifies candidates (candidates ONLY — never all pairs).
    * The oracle replays the identical md5 minhash family, so the
    * candidate set is deterministic across engines by construction.
    * Memoized; symmetrized. 100-TB shape: one explode +
    * hash-agg for signatures, band-key EQUI-join for candidates,
    * candidate-only verify — every stage linear or candidate-bounded. */
  /** Per-doc stride-1 8-token shingle array — the unit of the full-corpus
    * dedup-graph tier (shared by dedupShingleEdges and
    * text_containment_pairs). */
  private def shingleFrame(spark: SparkSession, sfDir: String): DataFrame =
    docToks(spark, sfDir)
      .filter(size(col("tk")) >= 8)
      .select(col("doc_id"), expr(
        """transform(sequence(1, size(tk) - 7),
          |  i -> array_join(slice(tk, i, 8), ' '))""".stripMargin).as("sh"))

  /** Memoized per-candidate-pair shingle-set measures (d1, d2, inter,
    * n1, n2) over the full-corpus banding — ONE banding pass + exact
    * intersection feeding all three graded consumers (text_dedup_cc's
    * Jaccard edges, text_containment_pairs' asymmetric containments):
    * the signature aggregation, band equi-join and candidate-only
    * intersect run once per (session, corpus generation) instead of once
    * per query — the materialized candidate-measure table a production
    * dedup pipeline writes between banding and its policy passes. */
  /** Memoized corpus-wide LOWERCASED term counts (term, cnt) — round 18:
    * four keys (text_rarity_score, text_unigram_lm_score, ml_oov_rate,
    * ml_dataset_card's vocabulary census) each re-ran the same
    * explode + term-keyed hash agg over the full corpus. The frame is
    * vocabulary-sized; n_total/vocab_size/min-count are one-row reads of
    * it (sum(cnt) ≡ the token-instance count, count(*) ≡ the distinct
    * vocabulary — exact by construction). Same session-cache shape as
    * docToks: the materialized unigram-count table every curation
    * pipeline keeps beside the corpus. The agg reads one row per distinct
    * (doc, term) from the row-local term bag: cnt = sum(k). */
  private[queries] def termCounts(spark: SparkSession, sfDir: String)
      : DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:termcounts:${Tables.tableKey(sfDir, "documents")}") {
      docTerms(spark, sfDir).groupBy("term").agg(sum(col("k")).as("cnt"))
    }

  /** Memoized (doc_id, term, tf, df) frame — round 18: text_tfidf,
    * text_keyword_topk and text_bm25_rank each rebuilt the identical
    * corpus explode → (doc, term) tf hash agg → term-partitioned df
    * window. One stored build per (session, corpus); consumers are
    * projections/filters over it. tf is the row-local term bag's count
    * (no (doc, term) agg or shuffle); df stays the window form (not a
    * groupBy + self-join) for the reason text_tfidf documents. */
  private def tfDf(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:tfdf:${Tables.tableKey(sfDir, "documents")}") {
      docTerms(spark, sfDir, "doc_id").withColumnRenamed("k", "tf")
        .withColumn("df",
          count(lit(1)).over(Window.partitionBy("term")))
    }

  /** Memoized full-outer-joined per-parity-slice term counts
    * (term, ca, cb) — round 18: text_token_drift and text_js_divergence
    * each rebuilt the identical two slice aggs + full-outer term join
    * from a fresh corpus explode. Consumers derive their 1-row totals
    * from the stored frame (sum over a full-outer side ≡ the sum over
    * that side's own aggregate — sum skips the join's nulls). Each slice
    * agg reads one row per distinct (doc, term) from the row-local term
    * bag: count = sum(k). */
  private def sliceTermCounts(spark: SparkSession, sfDir: String)
      : DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:slicetermcounts:${Tables.tableKey(sfDir, "documents")}") {
      val toks = docTerms(spark, sfDir, "doc_id")
      val ca = toks.filter(col("doc_id") % 2 === 0)
        .groupBy("term").agg(sum(col("k")).as("ca"))
      val cb = toks.filter(col("doc_id") % 2 === 1)
        .groupBy("term").agg(sum(col("k")).as("cb"))
      ca.join(cb, Seq("term"), "full_outer")
    }

  /** Memoized banded candidate pairs over the doc_id < cap unigram slice
    * (8 hashes, 2 bands) — round 18: the SAME frame was rebuilt inline by
    * three cap-200 consumers (text_minhash_band_pairs,
    * text_lsh_dedup_verified, dedupVerifiedEdges) and two cap-50 ones
    * (text_dedup_eval, text_dedup_threshold_sweep); each rebuild re-ran
    * the per-doc signature expressions and the band equi-join. Same
    * session-cache shape as shinglePairMeasures: banding runs once per
    * (session, corpus, cap), consumers read the stored pairs. */
  private def unigramCandPairs(spark: SparkSession, sfDir: String,
      cap: Int): DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:unigram_cand_$cap:${Tables.tableKey(sfDir, "documents")}") {
      unigramCandBuild(spark, sfDir, cap)
    }

  /** The banding `unigramCandPairs` stores. */
  private[graft] def unigramCandBuild(spark: SparkSession, sfDir: String,
      cap: Int): DataFrame =
    graft.ops.Ops.minhashCandidatePairsArr(
      docToks(spark, sfDir).filter(col("doc_id") < cap),
      col("doc_id"), col("tk"), numHashes = 8, bands = 2)

  private def shinglePairMeasures(spark: SparkSession, sfDir: String)
      : DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:shingle_pair_measures:${Tables.tableKey(sfDir, "documents")}") {
      // Round-13 cold-cost cut (VERDICT-r12 #1): the whole signature/set
      // stage is ROW-LOCAL — minhash signatures via Ops.minhashSignatures'
      // array_min-over-transform form and the exact-verify shingle-hash
      // sets via sort_array(array_distinct(transform(...))) — so the
      // shingle STRINGS never shuffle at all (the old plan exploded 224k
      // occurrences and shuffled them twice; first-touch dropped from
      // ~16 s to ~1 s at sf0.1). Only the band-key equi-join and the
      // candidate-measure joins shuffle, on ids and 16-byte band keys.
      // min-over-multiset == min-over-set and array_distinct == the set,
      // so values are identical and the oracle replay is untouched.
      val withSh = shingleFrame(spark, sfDir)
      val cand = graft.ops.Ops
        .minhashCandidatePairsArr(withSh, col("doc_id"), col("sh"),
          numHashes = 8, bands = 4)
        .select(col("id1").as("d1"), col("id2").as("d2"))
      // read by both candidate-side joins; the checkpoint below runs
      // the whole plan once, so it needs no cache of its own
      val sets = withSh
        .select(col("doc_id"),
          sort_array(array_distinct(transform(col("sh"), s => md5(s))))
            .as("ts"))
      cand
        .join(sets.select(col("doc_id").as("sd1"), col("ts").as("t1")),
          col("d1") === col("sd1"))
        .join(sets.select(col("doc_id").as("sd2"), col("ts").as("t2")),
          col("d2") === col("sd2"))
        .select(col("d1"), col("d2"),
          // |A∩B| via the hash-based array_intersect (round-18, guide
          // §1.2 per-task work): filter+array_contains was O(|A|·|B|)
          // per candidate pair; array_intersect builds one hash set —
          // O(|A|+|B|). Cardinalities are identical because both sides
          // are array_distinct'ed sets (no duplicates to collapse).
          size(array_intersect(col("t1"), col("t2")))
            .cast("bigint").as("inter"),
          size(col("t1")).cast("bigint").as("n1"),
          size(col("t2")).cast("bigint").as("n2"))
    }

  private def dedupShingleEdges(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val dup = shinglePairMeasures(spark, sfDir)
      .filter(round(col("inter").cast("double")
        / (col("n1") + col("n2") - col("inter")), 4) >= 0.5)
      .select("d1", "d2")
    graft.util.Memo.frame(spark,
        s"$sfDir:dedup_shingle_edges:${Tables.tableKey(sfDir, "documents")}") {
      dup.unionByName(dup.select(col("d2").as("d1"), col("d1").as("d2")))
    }
  }

  /** The memoized fixpoint clustering of the whole corpus over
    * `dedupShingleEdges` — shared by text_dedup_cc and
    * ml_dedup_safe_split. */
  private def dedupCc(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo.frame(spark,
        s"$sfDir:dedup_cc_full:${Tables.tableKey(sfDir, "documents")}") {
      graft.ops.Ops.ccFixpoint(
        docToks(spark, sfDir).select("doc_id"), col("doc_id"),
        dedupShingleEdges(spark, sfDir), col("d1"), col("d2"),
        maxRounds = 20)
    }

  /** Convergence-checked connected components over the verified near-dup
    * graph (round-11, VERDICT-r10 #1; round-12 lifts the `doc_id < 200`
    * cap — the WHOLE corpus is clustered, via the shingle-hash banding of
    * `dedupShingleEdges`): where text_dedup_survivors stops after a FIXED
    * two propagation rounds (provably mislabeling any component of
    * diameter > 2 — SemanticsSpec pins a diameter-4 chain the 2-round
    * variant gets wrong), this iterates Ops.ccFixpoint's min-label
    * propagation until NO label changes, with a bounded max-round guard
    * (20) and a graded `converged` flag. The oracle computes the TRUE
    * fixpoint independently — DuckDB's recursive reachability closure
    * (WITH RECURSIVE + UNION dedup) + min-reachable-id per doc — and
    * emits converged=TRUE, so a Spark run that hits the guard before
    * fixpoint (flag false) or labels any node off the true component
    * minimum FAILS the hash compare: the convergence claim itself is
    * graded, not asserted. Nodes are ALL doc_ids (docs too short to
    * shingle — none in the fixtures — would be singleton clusters).
    *
    * 100-TB shape: two id-keyed shuffles per round over the memoized
    * edge frame; rounds ∝ component diameter, which for near-dup
    * clusters is small — the changed-count action per round is a
    * stored-frame scan. See Ops.ccFixpoint for the checkpoint/release
    * frontier discipline. */
  val textDedupCc = Q(
    "text_dedup_cc",
    (spark, sfDir) => {
      dedupCc(spark, sfDir)
        .select(col("id").as("doc_id"), col("cluster"), col("converged"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
                 toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                          FROM documents
                          WHERE len(string_split(text, ' ')) >= 8),
                 shing AS (SELECT DISTINCT doc_id,
                                  array_to_string(tk[i:i+7], ' ') AS s
                           FROM (SELECT doc_id, tk,
                                        unnest(range(1, len(tk) - 6)) AS i
                                 FROM toks)),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || s), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || s), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || s), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || s), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || s), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || s), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || s), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || s), 1, 15))::BIGINT) AS h7
                         FROM shing GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 2 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 3 AS band_no,
                          md5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 sets AS (SELECT doc_id, list_sort(list(DISTINCT md5(s))) AS ts
                          FROM shing GROUP BY doc_id),
                 dup AS (SELECT d1, d2 FROM cand
                         JOIN sets s1 ON d1 = s1.doc_id
                         JOIN sets s2 ON d2 = s2.doc_id
                         WHERE round(CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS DOUBLE)
                                     / (len(s1.ts) + len(s2.ts)
                                        - len(list_filter(s1.ts, x -> list_contains(s2.ts, x)))), 4) >= 0.5),
                 edges AS (SELECT d1, d2 FROM dup
                           UNION ALL SELECT d2 AS d1, d1 AS d2 FROM dup),
                 reach(doc_id, lbl) AS (
                   SELECT doc_id, doc_id AS lbl FROM documents
                   UNION
                   SELECT e.d1 AS doc_id, r.lbl
                   FROM edges e JOIN reach r ON e.d2 = r.doc_id)
            SELECT doc_id, min(lbl) AS cluster, TRUE AS converged
            FROM reach GROUP BY doc_id ORDER BY doc_id"""))

  /** Leakage-safe train/eval fold assignment (round-12): the split a
    * training pipeline MUST use once near-duplicates exist — hash the
    * CLUSTER representative (text_dedup_cc's connected-component label,
    * the same memoized frame), not the document id, so every member of a
    * near-dup cluster lands in the same fold and no eval document has a
    * near-copy in train. Graded per fold: document count, cluster count,
    * and `n_rescued` — members of multi-doc clusters whose naive
    * doc-id-hash fold DIFFERS from their cluster fold, i.e. exactly the
    * documents that would have leaked across the split under the naive
    * scheme (the measured value of doing the split cluster-aware). The
    * fold hash is the engine-portable md5-prefix of ml_kfold_assign.
    * The oracle recomputes the full pipeline independently: recursive-CTE
    * reachability for the clusters (text_dedup_cc's oracle), then the
    * same census — so a cluster split across folds, or a wrong cluster
    * label, breaks parity.
    *
    * 100-TB shape: cc labels are the memoized fixpoint frame (computed
    * once, shared with text_dedup_cc); the census is one broadcast-free
    * hash-agg keyed by fold. */
  val mlDedupSafeSplit = Q(
    "ml_dedup_safe_split",
    (spark, sfDir) => {
      val cc = dedupCc(spark, sfDir)
      def foldOf(c: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit("fold"), c.cast("string"))), 1, 8),
          16, 10).cast("bigint") % 5
      val assign = cc
        .select(col("id").as("doc_id"), col("cluster"))
        .withColumn("fold", foldOf(col("cluster")))
        .withColumn("naive_fold", foldOf(col("doc_id")))
      // cluster size via a window count over the cluster partition — one
      // exchange on cluster instead of the old self-agg + join's two
      // (round-15: this key runs LAST in the suite and r14's graded
      // artifact caught it absorbing host contention at 3.3 s; fewer
      // jobs/shuffles = smaller contention cross-section. Values are
      // identical: count() over the partition IS the joined csz.)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      assign.withColumn("csz", count(lit(1)).over(w))
        .groupBy("fold")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster")).as("n_clusters"),
          sum(when(col("csz") > 1 && col("naive_fold") =!= col("fold"), 1L)
            .otherwise(0L)).as("n_rescued"))
        .orderBy("fold")
    },
    Some("""WITH RECURSIVE
                 toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                          FROM documents
                          WHERE len(string_split(text, ' ')) >= 8),
                 shing AS (SELECT DISTINCT doc_id,
                                  array_to_string(tk[i:i+7], ' ') AS s
                           FROM (SELECT doc_id, tk,
                                        unnest(range(1, len(tk) - 6)) AS i
                                 FROM toks)),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || s), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || s), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || s), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || s), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || s), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || s), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || s), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || s), 1, 15))::BIGINT) AS h7
                         FROM shing GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 2 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 3 AS band_no,
                          md5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 sets AS (SELECT doc_id, list_sort(list(DISTINCT md5(s))) AS ts
                          FROM shing GROUP BY doc_id),
                 dup AS (SELECT d1, d2 FROM cand
                         JOIN sets s1 ON d1 = s1.doc_id
                         JOIN sets s2 ON d2 = s2.doc_id
                         WHERE round(CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS DOUBLE)
                                     / (len(s1.ts) + len(s2.ts)
                                        - len(list_filter(s1.ts, x -> list_contains(s2.ts, x)))), 4) >= 0.5),
                 edges AS (SELECT d1, d2 FROM dup
                           UNION ALL SELECT d2 AS d1, d1 AS d2 FROM dup),
                 reach(doc_id, lbl) AS (
                   SELECT doc_id, doc_id AS lbl FROM documents
                   UNION
                   SELECT e.d1 AS doc_id, r.lbl
                   FROM edges e JOIN reach r ON e.d2 = r.doc_id),
                 labels AS (SELECT doc_id, min(lbl) AS cluster
                            FROM reach GROUP BY doc_id),
                 assign AS (SELECT doc_id, cluster,
                              ('0x' || substring(md5('fold' || CAST(cluster AS VARCHAR)), 1, 8))::BIGINT % 5 AS fold,
                              ('0x' || substring(md5('fold' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5 AS naive_fold
                            FROM labels),
                 sizes AS (SELECT cluster, count(*) AS csz
                           FROM assign GROUP BY cluster)
            SELECT fold, count(*) AS n_docs,
                   CAST(count(DISTINCT a.cluster) AS BIGINT) AS n_clusters,
                   CAST(sum(CASE WHEN csz > 1 AND naive_fold <> fold
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_rescued
            FROM assign a JOIN sizes sz ON a.cluster = sz.cluster
            GROUP BY fold ORDER BY fold"""))

  /** Asymmetric shingle-set CONTAINMENT over banded candidates
    * (round-12) — the quote/subset detector Jaccard cannot see: a short
    * doc fully embedded in a long one has high containment
    * C(A,B) = |A∩B|/|A| but low Jaccard (the union is dominated by the
    * long doc), so a Jaccard-thresholded dedup pass keeps both while a
    * containment pass flags the near-subset. Candidates come from the
    * SAME full-corpus shingle-hash banding as text_dedup_cc (equi-join
    * only, never all pairs); per candidate pair the exact intersection
    * over shingle-hash sets yields both directions' containment
    * (rounded 4dp) plus the near-subset flag at 0.9. Both engines
    * replay the identical md5 minhash family, so the candidate set is
    * deterministic by construction.
    *
    * 100-TB shape: banding linear + band-key equi-join; the exact
    * intersection touches candidates only. */
  val textContainmentPairs = Q(
    "text_containment_pairs",
    (spark, sfDir) => {
      shinglePairMeasures(spark, sfDir)
        .select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
          round(col("inter").cast("double") / col("n1").cast("double"), 4)
            .as("c_1in2"),
          round(col("inter").cast("double") / col("n2").cast("double"), 4)
            .as("c_2in1"))
        .withColumn("near_subset",
          greatest(col("c_1in2"), col("c_2in1")) >= 0.9)
        .orderBy("d1", "d2")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk
                          FROM documents
                          WHERE len(string_split(text, ' ')) >= 8),
                 shing AS (SELECT DISTINCT doc_id,
                                  array_to_string(tk[i:i+7], ' ') AS s
                           FROM (SELECT doc_id, tk,
                                        unnest(range(1, len(tk) - 6)) AS i
                                 FROM toks)),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || s), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || s), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || s), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || s), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || s), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || s), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || s), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || s), 1, 15))::BIGINT) AS h7
                         FROM shing GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 2 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 3 AS band_no,
                          md5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 sets AS (SELECT doc_id, list_sort(list(DISTINCT md5(s))) AS ts
                          FROM shing GROUP BY doc_id),
                 m AS (SELECT d1, d2,
                              CAST(len(list_filter(s1.ts, x -> list_contains(s2.ts, x))) AS BIGINT) AS inter,
                              CAST(len(s1.ts) AS BIGINT) AS n1,
                              CAST(len(s2.ts) AS BIGINT) AS n2
                       FROM cand
                       JOIN sets s1 ON d1 = s1.doc_id
                       JOIN sets s2 ON d2 = s2.doc_id)
            SELECT d1, d2, inter, n1, n2,
                   round(CAST(inter AS DOUBLE) / CAST(n1 AS DOUBLE), 4) AS c_1in2,
                   round(CAST(inter AS DOUBLE) / CAST(n2 AS DOUBLE), 4) AS c_2in1,
                   greatest(round(CAST(inter AS DOUBLE) / CAST(n1 AS DOUBLE), 4),
                            round(CAST(inter AS DOUBLE) / CAST(n2 AS DOUBLE), 4)) >= 0.9
                     AS near_subset
            FROM m ORDER BY d1, d2"""))

  /** BM25 term ranking — the retrieval scoring function LLM data
    * pipelines use for contamination search and quality-weighted
    * sampling, in its engine-portable rational form: the saturation /
    * length-normalization term is Robertson's exactly
    * (k1=1.2, b=0.75 — the textbook constants), while the idf uses the
    * same rational (N+1)/(df+1) as text_tfidf instead of the log form,
    * because libm log is the one operation whose last ulp legally
    * differs across engines (+,-,*,/ are IEEE-exact-rounded on identical
    * operands, so spelling the arithmetic identically both sides makes
    * scores bit-identical). Corpus statistics (df, N, avgdl) scan
    * EVERYTHING; the doc_id < 50 cap bounds output only. Top-5 terms per
    * doc under a total order (score desc, term asc).
    *
    * 100-TB shape: tf one (doc,term) hash agg; df a window over that
    * aggregate (not a self-join — subtree would recompute, see
    * text_tfidf); dl from the shared token cache; N/avgdl a broadcast
    * 1-row frame; the per-doc top-k a bounded window. */
  val textBm25Rank = Q(
    "text_bm25_rank",
    (spark, sfDir) => {
      val withDf = tfDf(spark, sfDir) // shared memo — round 18
      val dl = docToks(spark, sfDir)
        .select(col("doc_id"), size(col("tk")).cast("bigint").as("dl"))
      val tot = docToks(spark, sfDir)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("tk")).cast("bigint")).as("sum_dl"))
      val tfd = col("tf").cast("double")
      val dld = col("dl").cast("double")
      val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
      val tfn = (tfd * lit(2.2)) /
        (tfd + lit(1.2) * (lit(0.25) + (lit(0.75) * dld) / avgdl))
      val idf = (col("n_docs").cast("double") + lit(1.0)) /
        (col("df").cast("double") + lit(1.0))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term"))
      withDf.filter(col("doc_id") < 50)
        .join(dl, "doc_id")
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(tfn * idf, 4).as("score"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 5)
        .orderBy("doc_id", "rk")
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 t AS (SELECT doc_id, term, count(*) AS tf
                       FROM toks GROUP BY doc_id, term),
                 td AS (SELECT doc_id, term, tf,
                               count(*) OVER (PARTITION BY term) AS df
                        FROM t),
                 dls AS (SELECT doc_id,
                                CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                         FROM documents),
                 n AS (SELECT count(*) AS n_docs,
                              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_dl
                       FROM documents),
                 scored AS (
                   SELECT td.doc_id, td.term, td.tf, td.df,
                          round((CAST(tf AS DOUBLE) * 2.2) /
                                (CAST(tf AS DOUBLE) + 1.2 * (0.25 +
                                  (0.75 * CAST(dl AS DOUBLE)) /
                                  (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
                                * ((CAST(n_docs AS DOUBLE) + 1.0) /
                                   (CAST(df AS DOUBLE) + 1.0)), 4) AS score
                   FROM td JOIN dls ON td.doc_id = dls.doc_id
                   CROSS JOIN n
                   WHERE td.doc_id < 50)
            SELECT doc_id, term, tf, df, score, rk FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, term) AS BIGINT) AS rk
              FROM scored)
            WHERE rk <= 5 ORDER BY doc_id, rk"""))

  /** Unigram-LM document scoring (round-9) — the actual log-prob form of
    * the perplexity-proxy quality filter (text_rarity_score is its
    * integer-exact sibling): score each doc by the average log-probability
    * of its tokens under the corpus unigram model, p(t) = cnt(t)/N.
    *
    * Determinism (extends the text-tier no-raw-logs policy): libm ln is
    * NOT bit-identical across engines — measured this round, 24/1M integer
    * inputs differ by 1 ulp between Math.log and DuckDB ln — so every log
    * is QUANTIZED AT THE LEAF into an exact INTEGER of 1e-6 units
    * (round((ln(cnt) − ln(N))·1e6) as BIGINT) and only integers are
    * aggregated. A 1-2 ulp disagreement (~4e-15 absolute) flips the leaf's
    * 0-decimal boundary with probability ~1e-8 per distinct count value;
    * past the leaf everything is exact integer arithmetic plus ONE
    * deterministic division — no sum-order noise exists to absorb. (The
    * first draft summed leaf-rounded DOUBLES: their 1e-6 decimal grid
    * resonates with the final .5e-4 rounding boundaries, parking ~1% of
    * docs exactly on one, where partial-agg order decided the hash — the
    * measured failure integer-micro arithmetic removes.)
    *
    * 100-TB shape: corpus counts one hash agg on term; the single (cnt,N)
    * → logprob join is an EQUI-join on term (vocabulary-sized, never
    * a-priori broadcast) over one row per distinct (doc, term) from the
    * row-local term bag; the 1-row N frame broadcast; per-doc regroup
    * shuffles on doc_id. Derives from shared docToks. */
  val textUnigramLmScore = Q(
    "text_unigram_lm_score",
    (spark, sfDir) => {
      val cnt = termCounts(spark, sfDir) // shared memo — round 18
      // n_total ≡ sum of the memoized per-term counts (the same token
      // instances, already aggregated) — avoids a second corpus explode
      val n = cnt.agg(sum(col("cnt")).as("n_total"))
      docTerms(spark, sfDir, "doc_id").join(cnt, Seq("term"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("k"),
          // integer-micro leaf: quantized log-prob in 1e-6 units as an
          // exact BIGINT. Summing DOUBLES that sit on a 1e-6 decimal grid
          // resonates with downstream .5e-4 rounding boundaries (measured:
          // 1% of docs land exactly on one, where sum-order ulp noise
          // flips the hash) — integer sums are order-free and exact.
          round((log(col("cnt").cast("double"))
            - log(col("n_total").cast("double"))) * lit(1e6), 0)
            .cast("bigint").as("lp_micro"))
        .groupBy("doc_id")
        // a term's k tokens share one lp_micro: k-weighted integer sums
        // equal the per-token ones exactly
        .agg(sum(col("k")).as("n_toks"),
          sum(col("k") * col("lp_micro")).as("slp"),
          min(col("lp_micro")).as("mlp"))
        .select(col("doc_id"), col("n_toks"),
          // NO final round: slp/mlp are bit-identical integers in both
          // engines, so one IEEE division chain yields bit-identical
          // doubles — while round() here would re-enter the half-boundary
          // zone (micro sums ending in ...50 divide to exact x.xxxx5,
          // where Spark's BigDecimal round and DuckDB's scaled-multiply
          // round disagree on the same double; measured on text_entropy).
          (col("slp").cast("double")
            / col("n_toks").cast("double") / lit(1e6)).as("avg_logprob"),
          (col("mlp").cast("double") / lit(1e6)).as("min_logprob"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 c AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
                 n AS (SELECT count(*) AS n_total FROM toks),
                 lp AS (SELECT doc_id,
                               CAST(round((ln(CAST(cnt AS DOUBLE))
                                     - ln(CAST(n_total AS DOUBLE))) * 1e6, 0)
                                 AS BIGINT) AS lp_micro
                        FROM toks JOIN c USING (term) CROSS JOIN n),
                 g AS (SELECT doc_id, count(*) AS n_toks,
                              CAST(sum(lp_micro) AS BIGINT) AS slp,
                              min(lp_micro) AS mlp
                       FROM lp GROUP BY doc_id)
            SELECT doc_id, n_toks,
                   CAST(slp AS DOUBLE) / CAST(n_toks AS DOUBLE) / 1e6
                     AS avg_logprob,
                   CAST(mlp AS DOUBLE) / 1e6 AS min_logprob
            FROM g ORDER BY doc_id"""))

  /** Interpolated bigram LM score (round-12, VERDICT-r11 #7) — the next
    * quality-filter signal after text_unigram_lm_score's unigram face: a
    * Jelinek-Mercer-interpolated bigram language model scored per doc.
    * P(cur|prev) = 0.75·c(prev,cur)/c(prev) + 0.25·c(cur)/N (the classic
    * fixed-λ interpolation — unseen bigrams back off to the unigram mass,
    * so every event has positive probability with NO explicit smoothing
    * table); each doc's FIRST token is scored by its unigram probability
    * (no left context). Same leaf-quantization recipe as the unigram
    * face: per-event log-prob quantized to exact 1e-6 BIGINT micros at
    * the leaf (order-free integer sums; ln is the one op whose last ulp
    * may differ across engines, and the 1e-6 grid absorbs it), no final
    * round (half-boundary hazard — see text_unigram_lm_score).
    *
    * 100-TB shape: events are an array-local transform (no shuffle to
    * form bigrams); unigram/bigram counts are vocabulary²-bounded hash
    * aggs; the scoring joins are EQUI-joins on term / (prev,cur); the
    * 1-row N frame broadcast; final regroup shuffles on doc_id. Derives
    * from shared docToks. */
  val textBigramLmScore = Q(
    "text_bigram_lm_score",
    (spark, sfDir) => {
      val ft = filter(transform(col("tk"), t => lower(t)),
        t => length(t) > 0)
      val ev = docToks(spark, sfDir)
        .select(col("doc_id"), ft.as("ft"))
        .filter(size(col("ft")) >= 1)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(ft)),
            |  i -> struct(CASE WHEN i = 1 THEN CAST(NULL AS STRING)
            |              ELSE element_at(ft, i - 1) END AS prev,
            |              element_at(ft, i) AS cur))""".stripMargin))
          .as("ev"))
        .select(col("doc_id"), col("ev.prev").as("prev"),
          col("ev.cur").as("cur"))
      val uc = ev.groupBy(col("cur").as("term"))
        .agg(count(lit(1)).as("cnt"))
      val n = ev.agg(count(lit(1)).as("n_total"))
      val bc = ev.filter(col("prev").isNotNull)
        .groupBy(col("prev").as("bprev"), col("cur").as("bcur"))
        .agg(count(lit(1)).as("cnt_pc"))
      ev
        .join(uc.select(col("term").as("cterm"), col("cnt").as("cnt_cur")),
          col("cur") === col("cterm"))
        .join(uc.select(col("term").as("pterm"), col("cnt").as("cnt_prev")),
          col("prev") === col("pterm"), "left")
        .join(bc, col("prev") === col("bprev") && col("cur") === col("bcur"),
          "left")
        .crossJoin(broadcast(n))
        .select(col("doc_id"),
          round(when(col("prev").isNull,
            log(col("cnt_cur").cast("double")
              / col("n_total").cast("double")))
            .otherwise(log(
              lit(0.75) * coalesce(col("cnt_pc"), lit(0L)).cast("double")
                / col("cnt_prev").cast("double")
              + lit(0.25) * col("cnt_cur").cast("double")
                / col("n_total").cast("double")))
            * lit(1e6), 0).cast("bigint").as("lp_micro"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          sum(col("lp_micro")).as("slp"),
          min(col("lp_micro")).as("mlp"))
        .select(col("doc_id"), col("n_toks"),
          (col("slp").cast("double")
            / col("n_toks").cast("double") / lit(1e6)).as("avg_logprob"),
          (col("mlp").cast("double") / lit(1e6)).as("min_logprob"))
        .orderBy("doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
                              list_filter(string_split(lower(text), ' '),
                                          t -> length(t) > 0) AS ft
                       FROM documents),
                 ev AS (SELECT doc_id,
                               CASE WHEN i = 1 THEN NULL
                                    ELSE ft[i - 1] END AS prev,
                               ft[i] AS cur
                        FROM (SELECT doc_id, ft,
                                     unnest(range(1, len(ft) + 1)) AS i
                              FROM f WHERE len(ft) >= 1)),
                 uc AS (SELECT cur AS term, count(*) AS cnt
                        FROM ev GROUP BY cur),
                 n AS (SELECT count(*) AS n_total FROM ev),
                 bc AS (SELECT prev AS bprev, cur AS bcur,
                               count(*) AS cnt_pc
                        FROM ev WHERE prev IS NOT NULL GROUP BY 1, 2),
                 lp AS (SELECT e.doc_id,
                               CAST(round(CASE WHEN e.prev IS NULL THEN
                                      ln(CAST(cu.cnt AS DOUBLE)
                                         / CAST(n.n_total AS DOUBLE))
                                    ELSE
                                      ln(0.75 * CAST(coalesce(bc.cnt_pc, 0) AS DOUBLE)
                                           / CAST(pu.cnt AS DOUBLE)
                                         + 0.25 * CAST(cu.cnt AS DOUBLE)
                                           / CAST(n.n_total AS DOUBLE))
                                    END * 1e6, 0) AS BIGINT) AS lp_micro
                        FROM ev e
                        JOIN uc cu ON e.cur = cu.term
                        LEFT JOIN uc pu ON e.prev = pu.term
                        LEFT JOIN bc ON e.prev = bc.bprev AND e.cur = bc.bcur
                        CROSS JOIN n),
                 g AS (SELECT doc_id, count(*) AS n_toks,
                              CAST(sum(lp_micro) AS BIGINT) AS slp,
                              min(lp_micro) AS mlp
                       FROM lp GROUP BY doc_id)
            SELECT doc_id, n_toks,
                   CAST(slp AS DOUBLE) / CAST(n_toks AS DOUBLE) / 1e6
                     AS avg_logprob,
                   CAST(mlp AS DOUBLE) / 1e6 AS min_logprob
            FROM g ORDER BY doc_id"""))

  /** Per-document token Shannon entropy + type-token ratio (round-9) —
    * the repetitiveness/diversity axis of quality filtering (a doc whose
    * tokens are all one word has H=0; machine-generated boilerplate sits
    * low). p(t|doc) = k/n is an IEEE-exact division of two integers; the
    * per-term entropy contribution is quantized at the leaf
    * (round(-p*ln(p), 6), same measured-ulp-risk policy as
    * text_unigram_lm_score) and only then summed per doc.
    *
    * 100-TB shape: one row-local projection over each document's term
    * bag — n = Σk, n_types = size(bag) and the entropy sum are folds over
    * the bag's array, so there is no explode, aggregate, join or shuffle;
    * the final ORDER BY is the only exchange. Derives from docToks. */
  val textEntropy = Q(
    "text_entropy",
    (spark, sfDir) => {
      docToks(spark, sfDir)
        // ≡ n > 0 (lower keeps a non-empty token non-empty), tested on the
        // token array: a filter on n would be pushed below the projection
        // and build every bag twice
        .filter(exists(col("tk"), t => length(t) > 0))
        .select(col("doc_id"), termBag(spark).as("bag"))
        .select(col("doc_id"), col("bag"),
          aggregate(col("bag"), lit(0L), (n, e) => n + e.getField("k"))
            .as("n"))
        .select(col("doc_id"), col("n").as("n_toks"),
          size(col("bag")).cast("bigint").as("n_types"),
          // integer-micro leaf (see text_unigram_lm_score): exact BIGINT
          // sums dodge the 1e-6-grid × .5e-4-boundary rounding resonance
          // that flipped 1% of doubles-summed docs.
          aggregate(col("bag"), lit(0L), { (se, e) =>
            val p = e.getField("k").cast("double") / col("n").cast("double")
            se + round(-p * log(p) * lit(1e6), 0).cast("bigint")
          }).as("se"))
        .select(col("doc_id"), col("n_toks"), col("n_types"),
          // NO final round (see text_unigram_lm_score): micro sums ending
          // in ...50 divide to exact half-boundary decimals where the two
          // engines' round() implementations disagree on the same double.
          (col("se").cast("double") / lit(1e6)).as("entropy"),
          (col("n_types").cast("double")
            / col("n_toks").cast("double")).as("ttr"))
        .orderBy("doc_id")
    },
    Some("""WITH tf AS (SELECT doc_id, term, count(*) AS k
                        FROM (SELECT doc_id,
                                     unnest(string_split(lower(text), ' ')) AS term
                              FROM documents)
                        WHERE length(term) > 0
                        GROUP BY doc_id, term),
                 dl AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                               count(*) AS n_types
                        FROM tf GROUP BY doc_id),
                 he AS (SELECT tf.doc_id, dl.n, dl.n_types,
                               CAST(round(-(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                     * ln(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                     * 1e6, 0) AS BIGINT) AS he_micro
                        FROM tf JOIN dl USING (doc_id)),
                 g AS (SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n_toks,
                              CAST(any_value(n_types) AS BIGINT) AS n_types,
                              CAST(sum(he_micro) AS BIGINT) AS se
                       FROM he GROUP BY doc_id)
            SELECT doc_id, n_toks, n_types,
                   CAST(se AS DOUBLE) / 1e6 AS entropy,
                   CAST(n_types AS DOUBLE) / CAST(n_toks AS DOUBLE) AS ttr
            FROM g ORDER BY doc_id"""))

  /** Per-language Zipf slope (round-9) — the corpus-health diagnostic a
    * curation pipeline runs per source/shard: rank terms by frequency
    * within each lang (row_number with a term tiebreak — a deterministic
    * TOTAL order, so tied counts rank identically in both engines) and
    * fit ln(cnt) ~ ln(rank) by least squares. A natural corpus shows
    * slope ≈ −1; a slope near 0 flags synthetic/templated shards (this
    * fixture's uniform vocab is the degenerate case the diagnostic
    * exists to catch). Both regression inputs are leaf-quantized logs
    * (round(ln(x),6), measured-ulp policy); regr_slope/intercept are
    * sums of products of bit-identical doubles, final round(.,4)
    * absorbs order + algebraic-form noise.
    *
    * 100-TB shape: term counts one hash agg; the rank window partitions
    * by lang over the VOCABULARY (not the corpus — the frame entering
    * the window is post-aggregation, vocabulary-sized); regression is a
    * per-lang agg. All shuffles are on lang/term keys. */
  val textZipfSlope = Q(
    "text_zipf_slope",
    (spark, sfDir) => {
      // stays a per-token explode: the map-side partial agg on
      // (lang, term) already folds a document's repeats, so the term bag
      // removes no shuffle or aggregate here, and it measured slower
      val cnt = docToks(spark, sfDir)
        .select(col("lang"),
          explode(transform(col("tk"), t => lower(t))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("term"))
      cnt.withColumn("rk", row_number().over(w))
        .select(col("lang"),
          round(log(col("rk").cast("double")), 6).as("lx"),
          round(log(col("cnt").cast("double")), 6).as("ly"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          round(regr_slope(col("ly"), col("lx")), 4).as("zipf_slope"),
          round(regr_intercept(col("ly"), col("lx")), 4).as("zipf_intercept"))
        .orderBy("lang")
    },
    Some("""WITH c AS (SELECT lang, term, count(*) AS cnt
                       FROM (SELECT lang,
                                    unnest(string_split(lower(text), ' ')) AS term
                             FROM documents)
                       WHERE length(term) > 0
                       GROUP BY lang, term),
                 r AS (SELECT lang,
                              round(ln(CAST(row_number() OVER (
                                PARTITION BY lang ORDER BY cnt DESC, term)
                                AS DOUBLE)), 6) AS lx,
                              round(ln(CAST(cnt AS DOUBLE)), 6) AS ly
                       FROM c)
            SELECT lang, count(*) AS n_terms,
                   round(regr_slope(ly, lx), 4) AS zipf_slope,
                   round(regr_intercept(ly, lx), 4) AS zipf_intercept
            FROM r GROUP BY lang ORDER BY lang"""))

  /** Prefix-cluster dedup candidates (round-9) — the boilerplate/URL
    * prefix grouping stage of web-corpus curation (template pages, mirror
    * URLs and OCR headers share long literal prefixes that token-level
    * LSH underweights): group docs by their first 12 characters, emit
    * clusters with > 1 member. Exact string-prefix grouping is ONE
    * hash-partitioned agg on the prefix key — the 100-TB-flat shape
    * (contrast the banded-LSH family when similarity, not literal
    * prefixes, is the criterion). substring is 1-based and
    * character-counted in both engines. */
  val textPrefixCluster = Q(
    "text_prefix_cluster",
    (spark, sfDir) =>
      docToks(spark, sfDir)
        .select(substring(col("text"), 1, 12).as("prefix"), col("doc_id"))
        .groupBy("prefix")
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .filter(col("n_docs") > 1)
        .orderBy("prefix"),
    Some("""SELECT prefix, n_docs, min_doc, max_doc FROM (
              SELECT substring(text, 1, 12) AS prefix, count(*) AS n_docs,
                     min(doc_id) AS min_doc, max(doc_id) AS max_doc
              FROM documents GROUP BY prefix)
            WHERE n_docs > 1 ORDER BY prefix"""))

  /** Language-ID confusion matrix (round-9) — the EVALUATION face of
    * text_langid: cross-tabulate actual lang × predicted lang with the
    * per-actual recall fraction. Classifier-evaluation-as-a-query is a
    * first-class curation op (you re-run it on every corpus slice before
    * trusting the cheap classifier to route it); both engines reuse the
    * EXACT text_langid scoring (the Spark side calls its build, the
    * oracle embeds its SQL as a CTE — one definition, zero drift).
    * Fractions are unrounded identical-integer divisions. */
  val textLangConfusion = Q(
    "text_lang_confusion",
    (spark, sfDir) => {
      val w = Window.partitionBy("actual_lang")
      textLangid.build(spark, sfDir)
        .select(col("lang").as("actual_lang"), col("predicted"))
        .groupBy("actual_lang", "predicted")
        .agg(count(lit(1)).as("n"))
        .withColumn("frac_of_actual",
          col("n").cast("double") / sum(col("n")).over(w).cast("double"))
        .orderBy("actual_lang", "predicted")
    },
    Some(s"""WITH base AS (${textLangid.oracle.get}),
                 c AS (SELECT lang AS actual_lang, predicted, count(*) AS n
                       FROM base GROUP BY actual_lang, predicted)
            SELECT actual_lang, predicted, n,
                   CAST(n AS DOUBLE) /
                     CAST(sum(n) OVER (PARTITION BY actual_lang) AS DOUBLE)
                     AS frac_of_actual
            FROM c ORDER BY actual_lang, predicted"""))

  /** Token-distribution drift between corpus slices (round-9) — the
    * monitoring query a pipeline runs when a new crawl lands: compare
    * unigram distributions of two halves (doc_id parity stands in for
    * old-vs-new shards) and surface the most-drifted terms. Per term:
    * p_a = c_a/n_a, p_b = c_b/n_b (identical-integer divisions; absent
    * terms count 0 via the FULL OUTER join), drift = |p_a − p_b|
    * rounded at 6 — rounding a GENERIC real (a difference of unrelated
    * rationals, not a grid point — the micro-int queries' half-boundary
    * resonance does not apply); cut total-ordered (drift DESC, term).
    *
    * 100-TB shape: two slice aggs from the shared tokenized frame, a
    * FULL OUTER equi-join on term, two 1-row broadcast totals, one
    * bounded cut. */
  val textTokenDrift = Q(
    "text_token_drift",
    (spark, sfDir) => {
      val joined = sliceTermCounts(spark, sfDir) // shared memo — round 18
      val na = joined.agg(sum(col("ca")).as("na"))
      val nb = joined.agg(sum(col("cb")).as("nb"))
      joined
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(col("term"),
          (coalesce(col("ca"), lit(0L)).cast("double")
            / col("na").cast("double")).as("pa"),
          (coalesce(col("cb"), lit(0L)).cast("double")
            / col("nb").cast("double")).as("pb"))
        .withColumn("drift", round(abs(col("pa") - col("pb")), 6))
        .orderBy(col("drift").desc, col("term"))
        .limit(10)
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 ca AS (SELECT term, count(*) AS ca FROM toks
                        WHERE doc_id % 2 = 0 GROUP BY term),
                 cb AS (SELECT term, count(*) AS cb FROM toks
                        WHERE doc_id % 2 = 1 GROUP BY term),
                 na AS (SELECT CAST(sum(ca) AS BIGINT) AS na FROM ca),
                 nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb)
            SELECT term, pa, pb, round(abs(pa - pb), 6) AS drift FROM (
              SELECT coalesce(ca.term, cb.term) AS term,
                     CAST(coalesce(ca, 0) AS DOUBLE) / CAST(na AS DOUBLE) AS pa,
                     CAST(coalesce(cb, 0) AS DOUBLE) / CAST(nb AS DOUBLE) AS pb
              FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
              CROSS JOIN na CROSS JOIN nb)
            ORDER BY drift DESC, term LIMIT 10"""))

  /** Top-K bigram coverage (round-9) — the tokenizer-design diagnostic
    * paired with ml_bpe_merge_step: what fraction of all corpus token
    * bigram INSTANCES the top-100 bigram types cover (the coverage-curve
    * point that decides vocabulary size). Counts are exact integers; the
    * top-100 cut is total-ordered (count DESC, bigram); coverage is one
    * identical-integer division. Output: one row (n_bigram_types,
    * n_instances, top_k, covered_instances, coverage).
    *
    * 100-TB shape: one (bigram) hash agg; the rank window runs over the
    * bigram VOCABULARY (post-agg), not the corpus. */
  val textBigramCoverage = Q(
    "text_bigram_coverage",
    (spark, sfDir) => {
      val big = docToks(spark, sfDir)
        .select(explode(expr(
          "transform(slice(tk, 1, size(tk) - 1), (t, i) -> concat(t, ' ', tk[i + 1]))"))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
      val w = Window.orderBy(col("n").desc, col("bigram"))
      big.withColumn("rk", row_number().over(w))
        .groupBy()
        .agg(count(lit(1)).as("n_bigram_types"),
          sum(col("n")).as("n_instances"),
          sum(when(col("rk") <= 100, col("n")).otherwise(0L))
            .as("covered_instances"))
        .select(col("n_bigram_types"), col("n_instances"),
          lit(100L).as("top_k"), col("covered_instances"),
          (col("covered_instances").cast("double")
            / col("n_instances").cast("double")).as("coverage"))
    },
    Some("""WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
                 big AS (SELECT bigram, count(*) AS n
                         FROM (SELECT unnest(list_transform(
                                 generate_series(1, len(tk) - 1),
                                 i -> tk[CAST(i AS INT)] || ' '
                                      || tk[CAST(i AS INT) + 1])) AS bigram
                               FROM toks)
                         GROUP BY bigram),
                 rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, bigram)
                               AS rk
                        FROM big)
            SELECT count(*) AS n_bigram_types,
                   CAST(sum(n) AS BIGINT) AS n_instances,
                   CAST(100 AS BIGINT) AS top_k,
                   CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) AS BIGINT)
                     AS covered_instances,
                   CAST(sum(CASE WHEN rk <= 100 THEN n ELSE 0 END) AS DOUBLE)
                     / CAST(sum(n) AS DOUBLE) AS coverage
            FROM rk"""))

  /** Deterministic review sample (round-9) — the human-QA draw every
    * curation change ships with: per language, the 3 docs with the
    * smallest salted content hash — "random" to any reviewer, yet
    * byte-reproducible across reruns, engines and re-partitions (the
    * no-rand(seed) sampling policy of ml_importance_sample applied to
    * inspection). Output carries the fields a reviewer needs. */
  val textReviewSample = Q(
    "text_review_sample",
    (spark, sfDir) => {
      val w = Window.partitionBy("lang").orderBy("h")
      docToks(spark, sfDir)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          md5(concat(lit("rs"), col("doc_id").cast("string"))).as("h"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 3)
        .select("lang", "rk", "doc_id", "n_chars")
        .orderBy("lang", "rk")
    },
    Some("""SELECT lang, rk, doc_id, n_chars FROM (
              SELECT lang, doc_id, n_chars,
                     CAST(row_number() OVER (PARTITION BY lang
                       ORDER BY md5('rs' || CAST(doc_id AS VARCHAR)))
                       AS BIGINT) AS rk
              FROM documents)
            WHERE rk <= 3 ORDER BY lang, rk"""))

  /** Sketch-accuracy-as-a-query (round-10): per LSH candidate pair, the
    * MinHash ESTIMATE of Jaccard (fraction of the 8 signature slots that
    * agree — the unbiased estimator LSH banding is built on) next to the
    * EXACT token-set Jaccard and their absolute error. Unlike the
    * hash-family-opaque sketches (minhash_lsh_jaccard, P3/no-oracle),
    * this is FULLY oracle-exact: the md5 signature family is replayable
    * in SQL, so the estimator's accuracy itself becomes a graded,
    * hash-bit-exact artifact — the calibration table you consult before
    * trusting banding thresholds on a new corpus. Signatures come from
    * the ONE shared kernel (Ops.minhashSignatures), candidates from the
    * one banding implementation — never all pairs.
    *
    * 100-TB shape: signature agg is linear; the candidate join is the
    * banded equi-join; est/exact per pair are bounded-size array ops. */
  val textMinhashJaccardEst = Q(
    "text_minhash_jaccard_est",
    (spark, sfDir) => {
      val docsF = docToks(spark, sfDir).filter(col("doc_id") < 200)
      // ONE signature aggregation, memoized, feeding all three
      // consumers (both candidate-join sides + the agreement math) — the
      // call-site memo the minhashCandidatePairs doc prescribes;
      // without it the tokenize→minhash agg ran 3× per invocation
      // (measured 10.1 s process-CPU at sf0.1, r10).
      val sigRaw = graft.util.Memo.frame(spark,
        s"$sfDir:mhsig:200:8:${Tables.tableKey(sfDir, "documents")}") {
        graft.ops.Ops
          .minhashSignatures(docsF, col("doc_id"), col("tk"), 8)
      }
      val sig = sigRaw.select(col("graft_id"),
        array((0 until 8).map(i => col(s"graft_h$i")): _*).as("sg"))
      // the memoized (slice, 8, 2) candidate frame (round 18) — the
      // expression-form banding is value-identical to bandsFromSig over
      // sigRaw (Round11OpsSpec pins the bit-equality), and the shared
      // stored frame costs nothing per consumer
      val cand = unigramCandPairs(spark, sfDir, 200)
        .select(col("id1").as("d1"), col("id2").as("d2"))
      // row-local set construction — see text_lsh_dedup_verified (round 18)
      val sets = docsF.select(col("doc_id"),
        sort_array(array_distinct(filter(col("tk"), t => length(t) > 0)))
          .as("ts"))
      cand
        .join(sig.select(col("graft_id").as("g1"), col("sg").as("sg1")),
          col("d1") === col("g1"))
        .join(sig.select(col("graft_id").as("g2"), col("sg").as("sg2")),
          col("d2") === col("g2"))
        .join(sets.select(col("doc_id").as("t1d"), col("ts").as("t1")),
          col("d1") === col("t1d"))
        .join(sets.select(col("doc_id").as("t2d"), col("ts").as("t2")),
          col("d2") === col("t2d"))
        .select(col("d1"), col("d2"),
          (size(filter(zip_with(col("sg1"), col("sg2"),
            (a, b) => a === b), x => x)).cast("double") / 8.0).as("est"),
          // hash-based O(|A|+|B|) intersect; == the filter/contains count
          // on these collect_set (duplicate-free) inputs — round 18
          size(array_intersect(col("t1"), col("t2")))
            .as("inter"),
          size(col("t1")).as("n1"), size(col("t2")).as("n2"))
        .select(col("d1"), col("d2"), col("est"),
          round(col("inter").cast("double")
            / (col("n1") + col("n2") - col("inter")), 4).as("jaccard"))
        .withColumn("abs_err", round(abs(col("est") - col("jaccard")), 4))
        .orderBy("d1", "d2")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 200)
                          WHERE length(tok) > 0),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
                          FROM bands a JOIN bands b
                            ON a.band_no = b.band_no AND a.bkey = b.bkey
                          WHERE a.doc_id < b.doc_id),
                 card AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
                 inter AS (SELECT x.doc_id AS d1, y.doc_id AS d2,
                                  count(*) AS i
                           FROM toks x JOIN toks y ON x.tok = y.tok
                             AND x.doc_id < y.doc_id
                           JOIN cand ON cand.d1 = x.doc_id
                             AND cand.d2 = y.doc_id
                           GROUP BY x.doc_id, y.doc_id)
            SELECT c.d1, c.d2,
                   CAST((CASE WHEN s1.h0 = s2.h0 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h1 = s2.h1 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h2 = s2.h2 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h3 = s2.h3 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h4 = s2.h4 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h5 = s2.h5 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h6 = s2.h6 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h7 = s2.h7 THEN 1 ELSE 0 END)
                        AS DOUBLE) / 8.0 AS est,
                   round(CAST(coalesce(i, 0) AS DOUBLE)
                         / (ca.n + cb.n - coalesce(i, 0)), 4) AS jaccard,
                   round(abs(CAST((CASE WHEN s1.h0 = s2.h0 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h1 = s2.h1 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h2 = s2.h2 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h3 = s2.h3 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h4 = s2.h4 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h5 = s2.h5 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h6 = s2.h6 THEN 1 ELSE 0 END +
                         CASE WHEN s1.h7 = s2.h7 THEN 1 ELSE 0 END)
                        AS DOUBLE) / 8.0
                       - round(CAST(coalesce(i, 0) AS DOUBLE)
                         / (ca.n + cb.n - coalesce(i, 0)), 4)), 4) AS abs_err
            FROM cand c
            JOIN sig s1 ON c.d1 = s1.doc_id
            JOIN sig s2 ON c.d2 = s2.doc_id
            JOIN card ca ON c.d1 = ca.doc_id
            JOIN card cb ON c.d2 = cb.doc_id
            LEFT JOIN inter ON c.d1 = inter.d1 AND c.d2 = inter.d2
            ORDER BY c.d1, c.d2"""))

  /** Jensen-Shannon divergence between the two doc-parity corpus slices
    * (round-10) — the PRINCIPLED distribution-shift metric behind
    * text_token_drift's top-10 table: symmetric, bounded [0, ln 2],
    * the number a crawl-monitoring dashboard thresholds on. Per-term
    * contributions 0.5·p·ln(p/m) + 0.5·q·ln(q/m) (m = (p+q)/2; a side
    * with count 0 contributes only the other side's term) are
    * leaf-quantized to exact NANO-units (round(c·1e9) as BIGINT — the
    * unigram-LM recipe at higher precision, since contributions are
    * tiny) so the vocabulary-sized sum is an order-free integer sum;
    * the final value is one division of identical operands.
    *
    * 100-TB shape: two slice aggs + a full-outer term equi-join +
    * broadcast totals — exactly the token_drift plan, with the
    * corpus-sized sum running over exact integers. */
  val textJsDivergence = Q(
    "text_js_divergence",
    (spark, sfDir) => {
      val joined = sliceTermCounts(spark, sfDir) // shared memo — round 18
      val na = joined.agg(sum(col("ca")).as("na"))
      val nb = joined.agg(sum(col("cb")).as("nb"))
      val p = coalesce(col("ca"), lit(0L)).cast("double") /
        col("na").cast("double")
      val q = coalesce(col("cb"), lit(0L)).cast("double") /
        col("nb").cast("double")
      val m = (p + q) / 2.0
      val contrib =
        when(coalesce(col("ca"), lit(0L)) > 0, p * log(p / m) / 2.0)
          .otherwise(0.0) +
        when(coalesce(col("cb"), lit(0L)) > 0, q * log(q / m) / 2.0)
          .otherwise(0.0)
      joined
        .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
        .select(round(contrib * lit(1e9), 0).cast("bigint").as("nano"))
        .agg(count(lit(1)).as("n_terms"), sum(col("nano")).as("s"))
        .select(col("n_terms"),
          (col("s").cast("double") / 1e9).as("js_nats"))
    },
    Some("""WITH toks AS (SELECT doc_id, term
                          FROM (SELECT doc_id,
                                       unnest(string_split(lower(text), ' ')) AS term
                                FROM documents)
                          WHERE length(term) > 0),
                 ca AS (SELECT term, count(*) AS ca FROM toks
                        WHERE doc_id % 2 = 0 GROUP BY term),
                 cb AS (SELECT term, count(*) AS cb FROM toks
                        WHERE doc_id % 2 = 1 GROUP BY term),
                 na AS (SELECT CAST(sum(ca) AS BIGINT) AS na FROM ca),
                 nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM cb),
                 terms AS (
                   SELECT coalesce(ca.term, cb.term) AS term,
                          CAST(coalesce(ca, 0) AS DOUBLE) / CAST(na AS DOUBLE) AS p,
                          CAST(coalesce(cb, 0) AS DOUBLE) / CAST(nb AS DOUBLE) AS q
                   FROM ca FULL OUTER JOIN cb ON ca.term = cb.term
                   CROSS JOIN na CROSS JOIN nb),
                 nano AS (
                   SELECT CAST(round(
                     (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0)) / 2.0
                           ELSE 0.0 END +
                      CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0)) / 2.0
                           ELSE 0.0 END) * 1e9, 0) AS BIGINT) AS nano
                   FROM terms)
            SELECT count(*) AS n_terms,
                   CAST(CAST(sum(nano) AS BIGINT) AS DOUBLE) / 1e9
                     AS js_nats
            FROM nano"""))

  /** Dedup-stage evaluation (round-10) — precision/recall of the LSH
    * banding CANDIDATE generator against exact-Jaccard ground truth
    * (near-dup ⇔ jaccard ≥ 0.5) on the capped doc_id < 50 slice where
    * the exact all-pairs truth is computable: the evaluation-as-a-query
    * face of the dedup tier (the ANN tier has vec_recall_curve, the
    * sketch tier text_minhash_jaccard_est — this completes the family).
    * A recall drop in the artifact means banding no longer catches the
    * near-dups the verify stage would confirm — the re-tune alarm for
    * numHashes/bands. All counts exact integers; P/R/F1 are divisions
    * of identical finished operands (0-denominator → NULL on both
    * engines via NULLIF / when-guard).
    *
    * 100-TB shape: the EVAL is capped by construction (ground truth is
    * inherently quadratic — that is why it is an audit on a slice, run
    * beside the uncapped banding pipeline, not inside it). */
  val textDedupEval = Q(
    "text_dedup_eval",
    (spark, sfDir) => {
      val docsF = docToks(spark, sfDir).filter(col("doc_id") < 50)
      // Round-18 truth-side restructure (guide §2.4 remove shuffles
      // outright): the old inverted-index form exploded tokens, ran
      // DISTINCT, self-joined on token, re-aggregated per pair and
      // joined two cardinality frames back — six shuffles over a
      // 50-doc slice. The token SET per doc is row-local from the
      // cached tk array (array_distinct∘filter ≡ the exploded
      // DISTINCT), and the slice is capped by construction, so the
      // all-pairs truth is a broadcast join with one hash-based
      // array_intersect per pair — zero exchanges before the final
      // tiny census aggregates. Values identical: same token sets,
      // |A∩B| ≥ 0.5-Jaccard threshold can only pass with i ≥ 1, so
      // the equi-join's implicit i ≥ 1 restriction drops nothing.
      val sets = docsF.select(col("doc_id"),
        array_distinct(filter(col("tk"), t => length(t) > 0)).as("ts"))
      val truth = sets.select(col("doc_id").as("a"), col("ts").as("t1"))
        .join(broadcast(sets.select(col("doc_id").as("b"), col("ts").as("t2"))),
          col("a") < col("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("t1"), col("t2"))).as("i"),
          size(col("t1")).as("na"), size(col("t2")).as("nb"))
        .filter(col("i").cast("double")
          / (col("na") + col("nb") - col("i")).cast("double") >= 0.5)
        .select(col("a"), col("b"))
      val cand = unigramCandPairs(spark, sfDir, 50)
        .select(col("id1").as("ca"), col("id2").as("cb"))
      val tp = truth.join(cand,
        col("a") === col("ca") && col("b") === col("cb"), "left_semi")
      val counts = cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_true"))))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("tp"))))
      counts.select(col("n_cand"), col("n_true"), col("tp"),
        when(col("n_cand") > 0,
          col("tp").cast("double") / col("n_cand").cast("double"))
          .as("precision"),
        when(col("n_true") > 0,
          col("tp").cast("double") / col("n_true").cast("double"))
          .as("recall"))
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 50)
                          WHERE length(tok) > 0),
                 card AS (SELECT doc_id, count(*) AS n FROM toks
                          GROUP BY doc_id),
                 inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
                                  count(*) AS i
                           FROM toks x JOIN toks y ON x.tok = y.tok
                             AND x.doc_id < y.doc_id
                           GROUP BY x.doc_id, y.doc_id),
                 truth AS (SELECT a, b FROM inter
                           JOIN card ca ON inter.a = ca.doc_id
                           JOIN card cb ON inter.b = cb.doc_id
                           WHERE CAST(i AS DOUBLE)
                                 / CAST(ca.n + cb.n - i AS DOUBLE) >= 0.5),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT x.doc_id AS ca, y.doc_id AS cb
                          FROM bands x JOIN bands y
                            ON x.band_no = y.band_no AND x.bkey = y.bkey
                          WHERE x.doc_id < y.doc_id),
                 tp AS (SELECT a, b FROM truth
                        WHERE EXISTS (SELECT 1 FROM cand
                                      WHERE ca = a AND cb = b)),
                 c AS (SELECT count(*) AS n_cand FROM cand),
                 t AS (SELECT count(*) AS n_true FROM truth),
                 p AS (SELECT count(*) AS tp FROM tp)
            SELECT n_cand, n_true, tp,
                   CASE WHEN n_cand > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) END
                     AS precision,
                   CASE WHEN n_true > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END
                     AS recall
            FROM c CROSS JOIN t CROSS JOIN p"""))

  /** Banding calibration CURVE (round-12) — text_dedup_eval grades the
    * single τ=0.5 operating point; this sweeps the near-dup definition
    * across τ ∈ {0.3, 0.5, 0.7} and grades precision/recall PER
    * THRESHOLD — the curve a dedup owner reads to decide whether the
    * 8-hash/2-band config matches their aggressiveness target (loose
    * τ=0.3 dedup wants more recall than strict τ=0.7). Same capped
    * doc_id < 50 all-pairs truth slice (ground truth is inherently
    * quadratic — audit-on-a-slice beside the uncapped pipeline). Every
    * threshold test is EXACT INTEGER arithmetic (10·i ≥ num·u, never a
    * float jaccard vs a float τ — a pair sitting exactly on a threshold
    * cannot flip engines); candidate membership computed once, the
    * sweep is a 3-element unpivot over the same pair frame.
    *
    * 100-TB shape: one pair frame + one candidate flag join + a 3-group
    * agg; the quadratic part stays capped by construction. */
  val textDedupThresholdSweep = Q(
    "text_dedup_threshold_sweep",
    (spark, sfDir) => {
      val docsF = docToks(spark, sfDir).filter(col("doc_id") < 50)
      // Round-18 restructure, same as text_dedup_eval's truth side
      // (guide §2.4): row-local token sets + broadcast all-pairs with a
      // hash intersect replace the exploded inverted-index self-join —
      // six shuffles on the 50-doc slice drop to zero before the final
      // tiny aggregates. The extra i = 0 pairs this admits change
      // nothing: is_true is false at every tau for i = 0 (u > 0 — docs
      // have ≥1 token), and banding candidates always share ≥1 token
      // under an exact hash family, so c = 1 ⇒ i ≥ 1 (the old
      // inter-driven left_outer dropped only (i=0, c=0) rows, which
      // contribute to no aggregate). DuckDB oracle unchanged; parity
      // proves the equivalence.
      val sets = docsF.select(col("doc_id"),
        array_distinct(filter(col("tk"), t => length(t) > 0)).as("ts"))
      val cand = unigramCandPairs(spark, sfDir, 50)
        .select(col("id1").as("ca"), col("id2").as("cb"), lit(1).as("c"))
      val pairs = sets.select(col("doc_id").as("a"), col("ts").as("t1"))
        .join(broadcast(sets.select(col("doc_id").as("b"), col("ts").as("t2"))),
          col("a") < col("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("t1"), col("t2"))).cast("bigint").as("i"),
          (size(col("t1")) + size(col("t2"))).cast("bigint").as("nn"))
        .withColumn("u", col("nn") - col("i"))
        .join(cand, col("a") === col("ca") && col("b") === col("cb"),
          "left_outer")
        .select(col("i"), col("u"), coalesce(col("c"), lit(0)).as("c"))
      val swept = pairs.select(col("c"), explode(array(
          struct(lit(0.3).as("tau"),
            (col("i") * 10 >= col("u") * 3).as("is_true")),
          struct(lit(0.5).as("tau"),
            (col("i") * 10 >= col("u") * 5).as("is_true")),
          struct(lit(0.7).as("tau"),
            (col("i") * 10 >= col("u") * 7).as("is_true")))).as("r"))
        .select(col("r.tau").as("tau"), col("r.is_true").as("is_true"),
          col("c"))
        .groupBy("tau")
        .agg(sum(when(col("is_true"), 1L).otherwise(0L)).as("n_true"),
          sum(when(col("is_true") && col("c") === 1, 1L).otherwise(0L))
            .as("tp"))
      swept
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .select(col("tau"), col("n_cand"), col("n_true"), col("tp"),
          when(col("n_cand") > 0,
            col("tp").cast("double") / col("n_cand").cast("double"))
            .as("precision"),
          when(col("n_true") > 0,
            col("tp").cast("double") / col("n_true").cast("double"))
            .as("recall"))
        .orderBy("tau")
    },
    Some("""WITH toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents WHERE doc_id < 50)
                          WHERE length(tok) > 0),
                 card AS (SELECT doc_id, count(*) AS n FROM toks
                          GROUP BY doc_id),
                 inter AS (SELECT x.doc_id AS a, y.doc_id AS b,
                                  count(*) AS i
                           FROM toks x JOIN toks y ON x.tok = y.tok
                             AND x.doc_id < y.doc_id
                           GROUP BY x.doc_id, y.doc_id),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 cand AS (SELECT DISTINCT x.doc_id AS ca, y.doc_id AS cb
                          FROM bands x JOIN bands y
                            ON x.band_no = y.band_no AND x.bkey = y.bkey
                          WHERE x.doc_id < y.doc_id),
                 pairs AS (SELECT i.a, i.b, i.i,
                                  ca.n + cb.n - i.i AS u,
                                  CASE WHEN EXISTS (SELECT 1 FROM cand
                                                    WHERE cand.ca = i.a
                                                      AND cand.cb = i.b)
                                       THEN 1 ELSE 0 END AS c
                           FROM inter i
                           JOIN card ca ON i.a = ca.doc_id
                           JOIN card cb ON i.b = cb.doc_id),
                 th(tau, num) AS (VALUES (0.3, 3), (0.5, 5), (0.7, 7)),
                 swept AS (SELECT tau,
                                  sum(CASE WHEN 10 * i >= num * u
                                           THEN 1 ELSE 0 END) AS n_true,
                                  sum(CASE WHEN 10 * i >= num * u AND c = 1
                                           THEN 1 ELSE 0 END) AS tp
                           FROM pairs CROSS JOIN th GROUP BY tau),
                 nc AS (SELECT count(*) AS n_cand FROM cand)
            SELECT CAST(tau AS DOUBLE) AS tau,
                   CAST(n_cand AS BIGINT) AS n_cand,
                   CAST(n_true AS BIGINT) AS n_true,
                   CAST(tp AS BIGINT) AS tp,
                   CASE WHEN n_cand > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_cand AS DOUBLE) END
                     AS precision,
                   CASE WHEN n_true > 0 THEN
                     CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END
                     AS recall
            FROM swept CROSS JOIN nc ORDER BY tau"""))

  /** Per-language document-length five-number summary + boxplot outliers
    * (round-10) — the analyst's first look at a new corpus slice and the
    * Tukey-fence outlier rule (len > q3 + 1.5·IQR) curation pipelines
    * use to flag concatenation artifacts: min/q1/median/q3/max of
    * n_chars per lang, plus the count of fence-exceeding docs. The
    * interpolated percentiles are the proven agg_percentile_corr pairing
    * (Spark `percentile` ↔ DuckDB `quantile_cont`, identical linear
    * interpolation over integer lengths); the fence compares against the
    * ROUNDED q3/IQR on both engines, so the outlier decision is
    * bit-identical.
    *
    * 100-TB shape: per-lang percentile agg (grouped, bounded state),
    * rounded fences broadcast back by an equi-join on lang, one
    * conditional count. */
  val textLengthQuartiles = Q(
    "text_length_quartiles",
    (spark, sfDir) => {
      val d = docToks(spark, sfDir).select(col("lang"), col("n_chars"))
      val qs = d.groupBy("lang").agg(
        min(col("n_chars")).as("min_len"),
        round(expr("percentile(n_chars, 0.25)"), 4).as("q1"),
        round(expr("percentile(n_chars, 0.5)"), 4).as("median_len"),
        round(expr("percentile(n_chars, 0.75)"), 4).as("q3"),
        max(col("n_chars")).as("max_len"))
      d.join(qs, "lang")
        .groupBy(col("lang"))
        .agg(first(col("min_len")).as("min_len"), first(col("q1")).as("q1"),
          first(col("median_len")).as("median_len"),
          first(col("q3")).as("q3"), first(col("max_len")).as("max_len"),
          sum(when(col("n_chars").cast("double")
            > col("q3") + lit(1.5) * (col("q3") - col("q1")), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("lang")
    },
    Some("""WITH q AS (SELECT lang,
                              CAST(min(n_chars) AS BIGINT) AS min_len,
                              round(quantile_cont(n_chars, 0.25), 4) AS q1,
                              round(quantile_cont(n_chars, 0.5), 4) AS median_len,
                              round(quantile_cont(n_chars, 0.75), 4) AS q3,
                              CAST(max(n_chars) AS BIGINT) AS max_len
                       FROM documents GROUP BY lang)
            SELECT d.lang, q.min_len, q.q1, q.median_len, q.q3, q.max_len,
                   CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE)
                                      > q.q3 + 1.5 * (q.q3 - q.q1)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM documents d JOIN q ON d.lang = q.lang
            GROUP BY d.lang, q.min_len, q.q1, q.median_len, q.q3, q.max_len
            ORDER BY d.lang"""))

  /** Hapax/type-token census per source (round-10) — the vocabulary-
    * growth (Heaps'-law) diagnostic corpus linguists and tokenizer
    * designers read next to the Zipf slope: token count, type count,
    * hapax-legomena count (terms seen exactly once in that source) and
    * the two ratios. A rising hapax share flags noisy/OCR-ish ingest; a
    * falling one flags template spam — complementary to
    * text_stopword_discovery (head of the distribution) and
    * text_rarity_score (per-doc tail exposure). Counts are exact
    * integers; ratios are one identical-integer division each.
    *
    * 100-TB shape: one (source, term) hash agg over the shared tokenized
    * frame, then a source-level rollup — both partial-agg-friendly; no
    * vocabulary broadcast anywhere. */
  val textHapaxRatio = Q(
    "text_hapax_ratio",
    (spark, sfDir) => {
      // stays a per-token explode, as text_zipf_slope: the partial agg on
      // (source, term) already folds a document's repeats
      val terms = docToks(spark, sfDir)
        .select(col("source"),
          explode(transform(col("tk"), t => lower(t))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      terms.groupBy("source")
        .agg(sum(col("n")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          col("n_hapax"),
          (col("n_types").cast("double") / col("n_tokens").cast("double"))
            .as("type_token_ratio"),
          (col("n_hapax").cast("double") / col("n_types").cast("double"))
            .as("hapax_ratio"))
        .orderBy("source")
    },
    Some("""WITH terms AS (
              SELECT source, term, count(*) AS n
              FROM (SELECT source,
                           unnest(string_split(lower(text), ' ')) AS term
                    FROM documents)
              WHERE length(term) > 0
              GROUP BY source, term)
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   count(*) AS n_types,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_hapax,
                   CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
                     AS type_token_ratio,
                   CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS hapax_ratio
            FROM terms GROUP BY source ORDER BY source"""))

  /** The curation filter funnel (round-10) — the composed admit/reject
    * census every production pipeline reports before a training run:
    * each doc flows through quality gate → blocklist gate → prefix-dedup
    * gate with FIRST-FAIL attribution (a doc rejected for quality never
    * reaches the blocklist counter — the stage order is part of the
    * contract, exactly like a real pipeline's stage ordering decides its
    * reject stats). The dedup rank is computed AMONG SURVIVORS of the
    * earlier gates (ADVICE-r10): a doc rejected for quality or blocklist
    * never claims a prefix-cluster's canonical slot, so a duplicate's
    * canonical twin is always itself admitted — corpus-wide ranking would
    * let a rejected doc shadow the cluster. Stage rules reuse the graded
    * single-op definitions:
    * quality = text_quality's keep rule (unrounded ratios), blocklist =
    * text_blocklist_filter's >10% hit rule, duplicate = non-canonical
    * per 100-char-prefix hash (text_prefix_cluster's key; exact-dup
    * would be vacuous — the fixture corpus has none). Output: one row
    * per outcome with count and fraction (one identical-integer
    * division).
    *
    * 100-TB shape: per-doc gates are row-local expressions; the dedup
    * rank is one window keyed on the prefix hash (the text_exact_dedup
    * shuffle shape); the census is a 4-group agg + broadcast total. */
  val textFilterFunnel = Q(
    "text_filter_funnel",
    (spark, sfDir) => {
      val nToks = size(col("tk")).cast("bigint")
      val stop = size(filter(col("tk"), t =>
        t.isin("the", "a", "of", "and", "to"))).cast("bigint")
      val hits = size(expr(
        "filter(tk, t -> t IN ('slow','error','big'))")).cast("bigint")
      val w = Window.partitionBy(md5(substring(col("text"), 1, 100)))
        .orderBy("doc_id")
      val gated = docToks(spark, sfDir)
        .select(col("doc_id"), col("text"),
          when(!(nToks.between(20, 80)
              && stop.cast("double") / nToks.cast("double") < 0.3),
            "1_quality")
            .when(hits.cast("double") / nToks.cast("double") > 0.1,
              "2_blocklist").as("pre"))
      val rejected = gated.filter(col("pre").isNotNull)
        .select(col("doc_id"), col("pre").as("outcome"))
      val survivors = gated.filter(col("pre").isNull)
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"),
          when(col("rn") > 1, "3_duplicate")
            .otherwise("4_admitted").as("outcome"))
      val staged = rejected.unionByName(survivors)
      // total ≡ the corpus row count (every doc lands in exactly one
      // outcome), so it comes from the stored docToks scan instead of
      // re-executing the union + dedup window a second time (round 18)
      val total = docToks(spark, sfDir).agg(count(lit(1)).as("total"))
      staged.groupBy("outcome").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .select(col("outcome"), col("n"),
          (col("n").cast("double") / col("total").cast("double")).as("frac"))
        .orderBy("outcome")
    },
    Some("""WITH d AS (SELECT doc_id, text,
                              string_split(text, ' ') AS tk
                       FROM documents),
                 gated AS (
                   SELECT doc_id, text,
                          CASE
                            WHEN NOT (len(tk) BETWEEN 20 AND 80
                              AND CAST(len(list_filter(tk, t -> t IN
                                ('the','a','of','and','to'))) AS DOUBLE)
                                / len(tk) < 0.3)
                              THEN '1_quality'
                            WHEN CAST(len(list_filter(tk, t -> t IN
                                ('slow','error','big'))) AS DOUBLE)
                                / len(tk) > 0.1
                              THEN '2_blocklist'
                          END AS pre
                   FROM d),
                 survivors AS (
                   SELECT doc_id,
                          CASE WHEN row_number() OVER (
                                 PARTITION BY md5(substring(text, 1, 100))
                                 ORDER BY doc_id) > 1
                               THEN '3_duplicate' ELSE '4_admitted'
                          END AS outcome
                   FROM gated WHERE pre IS NULL),
                 staged AS (
                   SELECT doc_id, pre AS outcome FROM gated
                   WHERE pre IS NOT NULL
                   UNION ALL SELECT doc_id, outcome FROM survivors),
                 tot AS (SELECT count(*) AS total FROM staged)
            SELECT outcome, count(*) AS n,
                   CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE) AS frac
            FROM staged CROSS JOIN tot
            GROUP BY outcome, total ORDER BY outcome"""))

  /** Incremental (against-prior-corpus) dedup (round-10, VERDICT-r9 #2) —
    * the production daily-batch shape none of the self-dedup ops covers:
    * dedup TODAY'S CRAWL against the EXISTING corpus, never the corpus
    * against itself. Batch boundary is doc parity (odd = new batch, even
    * = prior corpus — the text_token_drift convention); capped at
    * doc_id < 600 to bound the DuckDB oracle's 8×md5-per-token signature
    * replay, not the Spark plan. Two probe stages, both equi-joins:
    *  1. exact: batch content hashes LEFT-probe the prior corpus's
    *     DISTINCT hash set (the anti-join shape, kept as a flag so the
    *     decision is graded, not silently dropped);
    *  2. near: batch minhash band keys (Ops.minhashBandsArr — the ONE
    *     banding implementation) equi-join PRIOR band keys only; per
    *     batch doc, the count of distinct prior docs sharing ≥1 band.
    * A doc is admitted iff neither stage hit.
    *
    * 100-TB shape: the prior corpus's hash set and band keys are the
    * PERSISTED signature store (built once per corpus generation — the
    * sink tier's write-then-read pattern; 16-byte hashes + band keys, not
    * text, are what lives in it); the daily batch is the small probe side
    * streaming through two hash joins keyed on content-hash / band-key.
    * No self-join, no all-pairs: incremental cost is O(batch), never
    * O(corpus). The production job is a STREAM — StreamingParitySpec
    * (round-11) mirrors this exact semantics via transformWithState:
    * prior-corpus signatures as frozen initial state, the daily batch
    * micro-batched through row-local banding (Ops.minhashBandKeysExpr),
    * verdicts proven row-identical to this batch op. */
  val textIncrementalDedup = Q(
    "text_incremental_dedup",
    (spark, sfDir) => {
      // through the ONE library implementation (Ops.incrementalDedup) —
      // the graded query is its fixture-scale instantiation
      val docs = docToks(spark, sfDir).filter(col("doc_id") < 600)
      graft.ops.Ops.incrementalDedup(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          col("doc_id"), col("text"), col("tk"), 8, 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 600),
                 toks AS (SELECT DISTINCT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM docs)
                          WHERE length(tok) > 0),
                 sig AS (SELECT doc_id,
                           min(('0x' || substring(md5('0:' || tok), 1, 15))::BIGINT) AS h0,
                           min(('0x' || substring(md5('1:' || tok), 1, 15))::BIGINT) AS h1,
                           min(('0x' || substring(md5('2:' || tok), 1, 15))::BIGINT) AS h2,
                           min(('0x' || substring(md5('3:' || tok), 1, 15))::BIGINT) AS h3,
                           min(('0x' || substring(md5('4:' || tok), 1, 15))::BIGINT) AS h4,
                           min(('0x' || substring(md5('5:' || tok), 1, 15))::BIGINT) AS h5,
                           min(('0x' || substring(md5('6:' || tok), 1, 15))::BIGINT) AS h6,
                           min(('0x' || substring(md5('7:' || tok), 1, 15))::BIGINT) AS h7
                         FROM toks GROUP BY doc_id),
                 bands AS (
                   SELECT doc_id, 0 AS band_no,
                          md5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR) || '|' ||
                              CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) AS bkey
                   FROM sig
                   UNION ALL
                   SELECT doc_id, 1 AS band_no,
                          md5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR) || '|' ||
                              CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) AS bkey
                   FROM sig),
                 prior_h AS (SELECT DISTINCT md5(text) AS ph FROM docs
                             WHERE doc_id % 2 = 0),
                 hits AS (SELECT b.doc_id,
                                 count(DISTINCT p.doc_id) AS n_band_hits
                          FROM bands b JOIN bands p
                            ON b.band_no = p.band_no AND b.bkey = p.bkey
                          WHERE b.doc_id % 2 = 1 AND p.doc_id % 2 = 0
                          GROUP BY b.doc_id)
            SELECT d.doc_id, md5(d.text) AS h,
                   (ph IS NOT NULL) AS exact_dup,
                   CAST(coalesce(n_band_hits, 0) AS BIGINT) AS n_band_hits,
                   (ph IS NULL AND coalesce(n_band_hits, 0) = 0) AS admitted
            FROM docs d
            LEFT JOIN prior_h ON md5(d.text) = ph
            LEFT JOIN hits ON d.doc_id = hits.doc_id
            WHERE d.doc_id % 2 = 1
            ORDER BY d.doc_id"""))

  /** Gopher-rule quality census (round-12) — the published pretraining
    * heuristic rule-set (Rae et al. 2021, "Scaling Language Models",
    * table A1) applied per doc and graded as a PER-RULE fail table: word
    * count outside [50, 100k], mean word length outside [3, 10],
    * symbol-to-word ratio (# or …) > 0.1, words-with-an-alphabetic-char
    * fraction < 0.80, required-stopword count < 2 — plus the any-rule
    * composite. This is the reject-attribution report a curation run
    * publishes next to its funnel (text_filter_funnel grades stage
    * ORDER; this grades the independent per-rule rates that size each
    * stage). Every threshold comparison is EXACT INTEGER arithmetic
    * (sum_len < 3·n_words, 10·n_sym > n_words, 5·n_alpha < 4·n_words) —
    * no ratio ever materializes as a float, so a boundary doc can't flip
    * between engines; the only division is the final fail_rate of
    * identical integer operands. 100-TB shape: per-doc metrics are
    * array-local lambdas on the shared docToks frame (no explode, no
    * shuffle), the unpivot is a 6-element generate, the census a
    * 6-group hash agg. */
  val textGopherRules = Q(
    "text_gopher_rules",
    (spark, sfDir) => {
      val tks = filter(col("tk"), t => length(t) > 0)
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val m = docToks(spark, sfDir).select(
        size(tks).cast("long").as("n_words"),
        aggregate(tks, lit(0L), (acc, t) => acc + length(t).cast("long"))
          .as("sum_len"),
        size(filter(tks, t =>
          instr(t, "#") > 0 || instr(t, "...") > 0)).cast("long").as("n_sym"),
        size(filter(tks, t => t.rlike("[A-Za-z]"))).cast("long")
          .as("n_alpha"),
        size(filter(tks, t => lower(t).isInCollection(stops))).cast("long")
          .as("n_stop"))
      val f = m.select(
        (col("n_words") < 50 || col("n_words") > 100000).as("f_wc"),
        (col("sum_len") < lit(3L) * col("n_words") ||
          col("sum_len") > lit(10L) * col("n_words")).as("f_mwl"),
        (lit(10L) * col("n_sym") > col("n_words")).as("f_sym"),
        (lit(5L) * col("n_alpha") < lit(4L) * col("n_words")).as("f_alpha"),
        (col("n_stop") < 2).as("f_stop"))
      f.select(explode(array(
          struct(lit("word_count").as("rule"), col("f_wc").as("fail")),
          struct(lit("mean_word_length").as("rule"), col("f_mwl").as("fail")),
          struct(lit("symbol_ratio").as("rule"), col("f_sym").as("fail")),
          struct(lit("alpha_words").as("rule"), col("f_alpha").as("fail")),
          struct(lit("stopwords").as("rule"), col("f_stop").as("fail")),
          struct(lit("any_rule").as("rule"),
            (col("f_wc") || col("f_mwl") || col("f_sym") || col("f_alpha") ||
              col("f_stop")).as("fail")))).as("r"))
        .select(col("r.rule").as("rule"), col("r.fail").as("fail"))
        .groupBy("rule")
        .agg(sum(when(col("fail"), 1L).otherwise(0L)).as("n_fail"),
          count(lit(1)).as("n_docs"))
        .select(col("rule"), col("n_fail"), col("n_docs"),
          round(col("n_fail").cast("double") / col("n_docs").cast("double"),
            4).as("fail_rate"))
        .orderBy("rule")
    },
    Some("""WITH toks AS (SELECT doc_id, tok
                          FROM (SELECT doc_id,
                                       unnest(string_split(text, ' ')) AS tok
                                FROM documents)
                          WHERE length(tok) > 0),
                 mr AS (SELECT doc_id, count(*) AS n_words,
                               sum(length(tok)) AS sum_len,
                               sum(CASE WHEN instr(tok, '#') > 0
                                          OR instr(tok, '...') > 0
                                        THEN 1 ELSE 0 END) AS n_sym,
                               sum(CASE WHEN regexp_matches(tok, '[A-Za-z]')
                                        THEN 1 ELSE 0 END) AS n_alpha,
                               sum(CASE WHEN lower(tok) IN
                                     ('the','be','to','of','and','that',
                                      'have','with')
                                        THEN 1 ELSE 0 END) AS n_stop
                        FROM toks GROUP BY doc_id),
                 m AS (SELECT d.doc_id,
                              coalesce(n_words, 0) AS n_words,
                              coalesce(sum_len, 0) AS sum_len,
                              coalesce(n_sym, 0) AS n_sym,
                              coalesce(n_alpha, 0) AS n_alpha,
                              coalesce(n_stop, 0) AS n_stop
                       FROM documents d LEFT JOIN mr USING (doc_id)),
                 f AS (SELECT doc_id,
                              (n_words < 50 OR n_words > 100000) AS f_wc,
                              (sum_len < 3 * n_words
                                OR sum_len > 10 * n_words) AS f_mwl,
                              (10 * n_sym > n_words) AS f_sym,
                              (5 * n_alpha < 4 * n_words) AS f_alpha,
                              (n_stop < 2) AS f_stop
                       FROM m),
                 r AS (SELECT 'word_count' AS rule, f_wc AS fail FROM f
                       UNION ALL SELECT 'mean_word_length', f_mwl FROM f
                       UNION ALL SELECT 'symbol_ratio', f_sym FROM f
                       UNION ALL SELECT 'alpha_words', f_alpha FROM f
                       UNION ALL SELECT 'stopwords', f_stop FROM f
                       UNION ALL SELECT 'any_rule',
                         (f_wc OR f_mwl OR f_sym OR f_alpha OR f_stop) FROM f)
            SELECT rule,
                   CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_fail,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(CAST(sum(CASE WHEN fail THEN 1 ELSE 0 END) AS DOUBLE)
                         / count(*), 4) AS fail_rate
            FROM r GROUP BY rule ORDER BY rule"""))

  // Declaration order IS the driver's single-pass run order, so the
  // memo-sharing chain of the full-corpus dedup-graph tier is ordered to
  // amortize its builds across its consumers (round-13, VERDICT-r12 #1):
  // textContainmentPairs pays the shingle-pair-measure build,
  // textDedupCc only the CC fixpoint on top of it, and the rest serve
  // from cache — instead of the whole chain landing on one key.
  def qs: Seq[Q] = Seq(textExactDedup, textJaccardPairs, textStats,
    textNgramJaccard, textSimhash, textQuality, textLangid, textTokenCount,
    textWinnowFingerprint, textTfidf, textMinhashBandPairs,
    textLshDedupVerified, textSimhashBandPairs, textEditDistancePairs,
    textTrigramProfile, textBlocklistFilter, textRepetitionStats,
    textKeywordTopk, textNgramTopk, textContamination, textChunkDedup,
    textStopwordDiscovery, textDedupPipeline, textLengthHistogram,
    textRarityScore, textDedupSurvivors, textBm25Rank,
    textUnigramLmScore, textEntropy, textZipfSlope, textPrefixCluster,
    textLangConfusion, textTokenDrift, textBigramCoverage, textReviewSample,
    textIncrementalDedup, textMinhashJaccardEst, textFilterFunnel,
    textHapaxRatio, textDedupEval, textJsDivergence, textLengthQuartiles,
    textContainmentPairs, textDedupCc, textSubstringDedup,
    textSubstringCoverage, textBigramLmScore, textLangidF1, textGopherRules,
    textDedupThresholdSweep, textShingleNovelty, mlDedupSafeSplit)
}
