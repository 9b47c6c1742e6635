package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, GroupOps, Text, Vectors}

/** LLM-training-data pipeline operators over `documents` and
  * `embeddings` (builder-prompt first-class components): text
  * analysis, dedup family, similarity search.
  */
object QueriesText {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val toksSql = """regexp_split_to_array(lower(text), '\s+')"""
  private val sh5Sql =
    """list_distinct(list_transform(range(1, greatest(length(lower(text)) - 4, 1) + 1),
       i -> substr(lower(text), CAST(i AS INT), 5)))"""

  /** Token counting: whitespace tokens + a chars/4 BPE-ish estimate. */
  private val txTokens = Q(
    "tx_token_count",
    Some(s"""SELECT doc_id, len($toksSql) AS n_tokens, length(text) AS n_chars,
             greatest(1, CAST(ceil(length(text) / 4.0) AS BIGINT)) AS n_bpe_est,
             CAST(len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS BIGINT) AS n_pretokens
             FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          Text.bpeTokenEstimate(col("text")).as("n_bpe_est"),
          Text.pretokenCount(col("text")).as("n_pretokens"))
        .orderBy("doc_id"))

  /** Quality scoring: stopword density + length + token-shape. */
  private val txQuality = Q(
    "tx_quality_score",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks,
               length(regexp_replace(text, '\\s+', '', 'g')) AS nws FROM documents)
             SELECT doc_id,
               0.5 * (len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'to'))) / len(toks))
               + 0.3 * least(1.0, len(toks) / 100.0)
               + 0.2 * least(1.0, (nws / len(toks)) / 5.0) AS quality
             FROM t ORDER BY doc_id"""),
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"))

  /** Language ID: stopword-hit argmax with fixed tie priority. */
  private val txLangid = Q(
    "tx_langid",
    Some {
      val cnt = Text.langStopwords.map { case (lang, ws) =>
        s"len(list_filter($toksSql, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS c_$lang"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, $cnt FROM documents)
          SELECT doc_id, lang,
            CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                 WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                 WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
                 WHEN c_fr >= c_zh THEN 'fr'
                 ELSE 'zh' END AS lang_pred
          FROM t ORDER BY doc_id"""
    },
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"), col("lang"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id"))

  /** X-TX14: language-ID evaluation — confusion matrix of the
    * stopword-argmax classifier against the labeled lang column, with
    * per-label share (the classifier-health gate; same eval-as-query
    * family as ss_recall_report). Output ≤ |langs|² rows. */
  private val txLangEval = Q(
    "tx_langid_eval",
    Some {
      val cnt = Text.langStopwords.map { case (lang, ws) =>
        s"len(list_filter($toksSql, x -> x IN (${ws.map(w => s"'$w'").mkString(", ")}))) AS c_$lang"
      }.mkString(", ")
      s"""WITH t AS (SELECT doc_id, lang, $cnt FROM documents),
          p AS (SELECT lang,
            CASE WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
                 WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
                 WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
                 WHEN c_fr >= c_zh THEN 'fr'
                 ELSE 'zh' END AS lang_pred
            FROM t),
          c AS (SELECT lang, lang_pred, count(*) AS n FROM p
            GROUP BY lang, lang_pred),
          s AS (SELECT *, CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
              AS n_label FROM c)
          SELECT lang, lang_pred, n, n_label,
            floor(CAST(n AS DOUBLE) * 1e6 / n_label + 0.5) / 1e6 AS share
          FROM s ORDER BY lang, lang_pred"""
    },
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val c = t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      c.withColumn("n_label",
          sum(col("n")).over(Window.partitionBy("lang")))
        .withColumn("share",
          floor(col("n").cast(org.apache.spark.sql.types.DoubleType)
            * 1e6 / col("n_label") + 0.5) / 1e6)
        .orderBy("lang", "lang_pred")
    })

  /** Deterministic train/val/test split + per-split corpus stats in
    * one pass — the canonical pre-training split report. */
  private val txSplit = Q(
    "tx_hash_split",
    Some(s"""WITH s AS (SELECT doc_id, ${Text.hashSplitSql("doc_id")} AS split,
               len($toksSql) AS n_toks FROM documents)
             SELECT split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               min(doc_id) AS min_id, max(doc_id) AS max_id
             FROM s GROUP BY split ORDER BY split"""),
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.hashSplit(col("doc_id")).as("split"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("split"))

  /** Per-language corpus report: doc counts, token mass, exact median
    * doc length, mean quality — the rollup a curation run reads. */
  private val txCorpus = Q(
    "tx_corpus_stats",
    Some(s"""WITH s AS (SELECT doc_id, lang, len($toksSql) AS n_toks,
               0.5 * (len(list_filter($toksSql, x -> x IN ('the', 'a', 'and', 'of', 'to')))
                 / len($toksSql))
               + 0.3 * least(1.0, len($toksSql) / 100.0)
               + 0.2 * least(1.0,
                   (length(regexp_replace(text, '\\s+', '', 'g')) / len($toksSql)) / 5.0)
                 AS quality
             FROM documents)
             SELECT lang, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS total_tokens,
               round(quantile_cont(n_toks, 0.5), 6) AS median_tokens,
               round(${graft.core.Det.sqlDavg("quality", 8)}, 6) AS mean_quality
             FROM s GROUP BY lang ORDER BY lang"""),
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"),
          Text.qualityScore(col("text")).as("quality"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("total_tokens"),
          round(expr("percentile(n_toks, 0.5)"), 6).as("median_tokens"),
          round(graft.core.Det.davg(col("quality"), 8), 6).as("mean_quality"))
        .orderBy("lang"))

  /** Word n-grams WITH multiplicity over a token-array expression —
    * SQL twin of Text.wordNgrams (same truncated-gram windowing). */
  private def ngramsOf(toks: String, n: Int): String =
    s"""list_transform(range(1, greatest(len($toks) - ${n - 1}, 1) + 1),
        i -> array_to_string($toks[CAST(i AS INT):CAST(i AS INT) + ${n - 1}], ' '))"""

  /** Repetition quality signals (the Gopher-style filter family):
    * type-token ratio, duplicate 3-gram fraction, top-bigram share.
    * Pure column math in the scan stage — every ratio is one int/int
    * IEEE division, so both engines agree bit-for-bit, no rounding. */
  private val txRepetition = Q(
    "tx_repetition",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, toks, ${ngramsOf("toks", 2)} AS g2,
            ${ngramsOf("toks", 3)} AS g3 FROM t)
          SELECT doc_id,
            len(list_distinct(toks)) / len(toks) AS ttr,
            (len(g3) - len(list_distinct(g3))) / len(g3) AS dup_3gram_frac,
            list_max(list_transform(list_distinct(g2),
              x -> len(list_filter(g2, y -> y = x)))) / len(g2) AS top_bigram_share
          FROM g ORDER BY doc_id"""),
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          Text.typeTokenRatio(col("text")).as("ttr"),
          Text.dupNgramFraction(col("text"), 3).as("dup_3gram_frac"),
          Text.topNgramShare(col("text"), 2).as("top_bigram_share"))
        .orderBy("doc_id"))

  /** Document fingerprint: md5 over the sorted distinct token set. */
  private val txFingerprint = Q(
    "tx_fingerprint",
    Some(s"""SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fingerprint
             FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"))

  /** Inline SQL twin of Text.qualityScore (defined before its users —
    * object vals initialize top-down). */
  private val qualityInlineSql2: String =
    s"""0.5 * (len(list_filter($toksSql, x -> x IN ('the', 'a', 'and', 'of', 'to')))
           / len($toksSql))
       + 0.3 * least(1.0, len($toksSql) / 100.0)
       + 0.2 * least(1.0,
           (length(regexp_replace(text, '\\s+', '', 'g')) / len($toksSql)) / 5.0)"""

  /** Quality-classifier score fusion: fixed-weight logistic over the
    * existing per-doc signals (quality, TTR, dup-3-gram, saturating
    * length), round-6 score + keep cut — the curation gate a trained
    * classifier would slot into. exp() differs across libms in the
    * last ulp, so the cut compares the ROUNDED score (same recipe as
    * the trig queries). */
  private val txFused = Q(
    "tx_quality_fused",
    Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, text, toks, ${ngramsOf("toks", 3)} AS g3 FROM t),
          z AS (SELECT doc_id,
              -2.0 + 3.0 * ($qualityInlineSql2)
              + 1.5 * (len(list_distinct(toks)) / len(toks))
              - 2.0 * ((len(g3) - len(list_distinct(g3))) / len(g3))
              + 0.5 * least(1.0, len(toks) / 200.0) AS z
            FROM g)
          SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS fused_quality,
            round(1.0 / (1.0 + exp(-z)), 6) > 0.5 AS keep
          FROM z ORDER BY doc_id"""),
    (s, dir) => {
      val score = round(Text.fusedQualityScore(col("text")), 6)
      t(s, dir, "documents")
        .select(col("doc_id"), score.as("fused_quality"), (score > 0.5).as("keep"))
        .orderBy("doc_id")
    })

  /** URL-level dedup: deterministic messy URL variants (scheme case,
    * www, query string, fragment, trailing slash) synthesized from
    * doc_id/source, canonicalized and collapsed keep-min-id. */
  private val ddUrl = Q(
    "dd_url_dedup",
    Some("""WITH u AS (SELECT doc_id,
              (['https://', 'http://', 'https://www.', 'HTTP://WWW.'])[CAST(doc_id % 4 + 1 AS INT)]
              || source || '.example.com/Page/' || CAST(doc_id % 25 AS VARCHAR)
              || (['', '/', '?utm_source=x', '#section'])[CAST((doc_id // 4) % 4 + 1 AS INT)] AS url
              FROM documents),
            c AS (SELECT doc_id,
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(lower(url),
                '^[a-z][a-z0-9+.-]*://', ''), '^www\.', ''), '[?#].*$', ''), '/+$', '') AS url_key
              FROM u)
            SELECT url_key, min(doc_id) AS kept_id, count(*) AS n_copies
            FROM c GROUP BY url_key ORDER BY url_key"""),
    (s, dir) => {
      val schemes = array(lit("https://"), lit("http://"), lit("https://www."), lit("HTTP://WWW."))
      val tails = array(lit(""), lit("/"), lit("?utm_source=x"), lit("#section"))
      val url = concat(
        element_at(schemes, (col("doc_id") % 4).cast("int") + 1),
        col("source"), lit(".example.com/Page/"),
        (col("doc_id") % 25).cast("string"),
        element_at(tails, (shiftright(col("doc_id"), 2) % 4).cast("int") + 1))
      Dedup.byUrl(
          t(s, dir, "documents").withColumn("url", url), "doc_id", "url")
        .orderBy("url_key")
    })

  /** Inline SQL twin of Text.qualityScore (no helper CTE — usable
    * inside any WHERE/SELECT over a frame with a `text` column). */
  private val qualityInlineSql: String = qualityInlineSql2

  /** X-EP7: continuous crawl-batch ingestion — quality gate +
    * incremental near-dedup against the existing corpus + per-lang
    * admission report, oracle-checked end-to-end (the poly band CTE
    * chain runs over BOTH the filtered batch and the corpus side,
    * exactly the engine's two-frame banded join). */
  private val ep7Ingest = Q(
    "ep7_incremental_ingest",
    Some(s"""WITH base AS (SELECT doc_id, text, lang,
            ${Text.sampleBucketSql("doc_id")} AS bucket FROM documents),
          newsrc AS (SELECT doc_id, text, lang FROM base WHERE bucket < 100),
          oldsrc AS (SELECT doc_id, text FROM base WHERE bucket >= 100),
          pass AS (SELECT doc_id, text, lang FROM newsrc
            WHERE ($qualityInlineSql) > 0.35),
          ${polyBandCtesFrom("pass", "_n")},
          ${polyBandCtesFrom("oldsrc", "_o")},
          cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
            FROM bands_n n JOIN bands_o o ON n.band = o.band AND n.key = o.key),
          v AS (SELECT cand.new_id,
            len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
            FROM cand JOIN d_n a ON cand.new_id = a.doc_id
              JOIN d_o b ON cand.old_id = b.doc_id),
          dup AS (SELECT DISTINCT new_id AS doc_id FROM v WHERE jaccard >= 0.25),
          b1 AS (SELECT lang, count(*) AS n_batch FROM newsrc GROUP BY lang),
          b2 AS (SELECT lang, count(*) AS n_pass FROM pass GROUP BY lang),
          b3 AS (SELECT p.lang, count(*) AS n_dup
            FROM pass p JOIN dup USING (doc_id) GROUP BY p.lang)
          SELECT b1.lang, b1.n_batch,
            CAST(b1.n_batch - coalesce(b2.n_pass, 0) AS BIGINT) AS n_quality_fail,
            CAST(coalesce(b3.n_dup, 0) AS BIGINT) AS n_neardup,
            CAST(coalesce(b2.n_pass, 0) - coalesce(b3.n_dup, 0) AS BIGINT)
              AS n_admitted
          FROM b1 LEFT JOIN b2 USING (lang) LEFT JOIN b3 USING (lang)
          ORDER BY lang"""),
    (s, dir) => Pipeline.incrementalIngest(s, dir))

  /** EP4: the corpus-curation flagship — quality cut, exact dedup,
    * near-dup canonicalization, deterministic split, per-(split,
    * lang) report — oracle-checked END-TO-END (the near-dup stage
    * runs the poly CTE chain over the filtered CTE, the group
    * resolution is the recursive-CTE transitive closure). */
  private val ep4Corpus = Q(
    "ep4_corpus_curation",
    Some(s"""WITH RECURSIVE base AS (
            SELECT doc_id, text, lang FROM documents
            WHERE ($qualityInlineSql) > 0.35),
          keep1 AS (SELECT min(doc_id) AS doc_id FROM base
            GROUP BY md5(lower(text))),
          kept1 AS (SELECT b.doc_id, b.text, b.lang
            FROM base b JOIN keep1 USING (doc_id)),
          ${QueriesText.polyPairCtesFrom("kept1")},
          p2 AS (SELECT a, b FROM v WHERE jaccard >= 0.25),
          edges AS (SELECT a AS x, b AS y FROM p2
            UNION ALL SELECT b AS x, a AS y FROM p2),
          nodes AS (SELECT DISTINCT x AS id FROM edges),
          r(id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.y, r.label FROM r JOIN edges e ON r.id = e.x),
          cc AS (SELECT id, min(label) AS canonical FROM r GROUP BY id),
          kept2 AS (SELECT k.doc_id, k.text, k.lang
            FROM kept1 k LEFT JOIN cc ON k.doc_id = cc.id
            WHERE coalesce(cc.canonical, k.doc_id) = k.doc_id),
          sp AS (SELECT doc_id, lang, ${Text.hashSplitSql("doc_id")} AS split,
            len($toksSql) AS n_toks, ($qualityInlineSql) AS quality
            FROM kept2)
          SELECT split, lang, count(*) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS total_tokens,
            round(${graft.core.Det.sqlDavg("quality", 8)}, 6) AS mean_quality
          FROM sp GROUP BY split, lang ORDER BY split, lang"""),
    (s, dir) => Pipeline.corpusCuration(s, dir))

  /** Shared (doc, term, tf) CTE chain for the relevance queries. */
  private val termCountCtes =
    s"""tok AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
        tc AS (SELECT doc_id, term, count(*) AS tf FROM tok
          WHERE length(term) > 0 GROUP BY doc_id, term)"""

  /** Unigram-frequency commonness score (the log-free LM-quality
    * proxy): mean corpus frequency (ppm) over a doc's token
    * occurrences. Exact-double rationals + decimal occurrence sum —
    * fully hash-mirrorable. */
  private val txCommonness = Q(
    "tx_commonness",
    Some(s"""WITH $termCountCtes,
          g AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tc GROUP BY term),
          t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g),
          j AS (SELECT tc.doc_id, tc.tf,
            CAST(g.cnt AS DOUBLE) * 1000000.0 / CAST(t.total AS DOUBLE) AS freq
            FROM tc JOIN g USING (term) CROSS JOIN t)
          SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
            floor(${graft.core.Det.sqlDsum("tf * freq", 6)}
              / CAST(sum(tf) AS BIGINT) * 1000000.0 + 0.5) / 1000000.0 AS commonness
          FROM j GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) =>
      Text.commonnessScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))

  /** Shared CTE chain of the self-trained add-alpha bigram LM score
    * (one source of truth for tx_bigram_lm and the CCNet-style
    * fluency buckets): emits `lmsc(doc_id, n_bigrams, lm_score)`. */
  private val bigramLmCtes: String =
    s"""t AS (SELECT doc_id,
              list_filter($toksSql, x -> length(x) > 0) AS toks FROM documents),
          bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(toks)),
                i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
            FROM t WHERE len(toks) >= 2),
          tc AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
            FROM bg GROUP BY doc_id, p.w1, p.w2),
          cb AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS cb
            FROM tc GROUP BY w1, w2),
          cw AS (SELECT w1, w2, cb,
              CAST(sum(cb) OVER (PARTITION BY w1) AS BIGINT) AS cw FROM cb),
          v AS (SELECT count(DISTINCT tok) AS v
            FROM (SELECT unnest(toks) AS tok FROM t)),
          c AS (SELECT tc.doc_id, tc.tf,
              tc.tf * ln((CAST(cb AS DOUBLE) + 0.5)
                / (CAST(cw AS DOUBLE) + 0.5 * v)) AS contrib
            FROM tc JOIN cw USING (w1, w2) CROSS JOIN v),
          lmsc AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
            floor(${graft.core.Det.sqlDsum("contrib", 8)}
              / sum(tf) * 1000000.0 + 0.5) / 1000000.0 AS lm_score
          FROM c GROUP BY doc_id)"""

  /** X-TX27: held-out bigram-LM perplexity — the trained-model trio's
    * LM leg (with tx_nb_langid and ev_markov_eval): train on the LCG
    * ≥200‰ split, score the rest (unseen bigrams hit the smoothing
    * floor via LEFT joins), report per-language mean score and
    * ppl = exp(−mean), both floor-quantized. */
  private val txLmPpl = Q(
    "tx_lm_perplexity",
    Some {
      val sb = Text.sampleBucketSql("doc_id")
      s"""WITH alldocs AS (SELECT doc_id, lang,
              list_filter($toksSql, x -> length(x) > 0) AS toks FROM documents),
          tr AS (SELECT * FROM alldocs WHERE $sb >= 200),
          te AS (SELECT * FROM alldocs WHERE $sb < 200),
          trbg AS (SELECT unnest(list_transform(range(1, len(toks)),
                i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
            FROM tr WHERE len(toks) >= 2),
          cb AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS cb
            FROM trbg GROUP BY p.w1, p.w2),
          cw AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cw FROM cb GROUP BY w1),
          v AS (SELECT count(DISTINCT tok) AS v
            FROM (SELECT unnest(toks) AS tok FROM tr)),
          tebg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS p
            FROM te WHERE len(toks) >= 2),
          ttc AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS tf
            FROM tebg GROUP BY doc_id, p.w1, p.w2),
          c AS (SELECT ttc.doc_id, ttc.tf,
              ttc.tf * ln((CAST(coalesce(cb.cb, 0) AS DOUBLE) + 0.5)
                / (CAST(coalesce(cw.cw, 0) AS DOUBLE) + 0.5 * v)) AS contrib
            FROM ttc LEFT JOIN cb USING (w1, w2) LEFT JOIN cw USING (w1)
            CROSS JOIN v),
          d AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
              floor(${graft.core.Det.sqlDsum("contrib", 8)}
                / sum(tf) * 1000000.0 + 0.5) / 1000000.0 AS lm_score
            FROM c GROUP BY doc_id),
          ag AS (SELECT a.lang, CAST(count(*) AS BIGINT) AS n_docs,
              ${graft.core.Det.sqlDavgLong("lm_score", 6)} AS mean_lm
            FROM d JOIN alldocs a USING (doc_id) GROUP BY a.lang)
          SELECT lang, n_docs, mean_lm,
            floor(exp(-mean_lm) * 1e6 + 0.5) / 1e6 AS ppl
          FROM ag ORDER BY lang"""
    },
    (s, dir) =>
      Text.lmPerplexityEval(t(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("lang"))

  /** X-TX16: bigram LM fluency score — the CCNet-style perplexity
    * quality gate, self-trained (add-0.5 smoothing). The oracle
    * retrains the same model independently: DuckDB list lambdas build
    * the bigram stream, the context counts come from a w1-window, and
    * the per-doc mean uses the scale-8 decimal sum + 1e-6 floor
    * quantization recipe (see Text.bigramLmScore for the error
    * model). */
  private val txBigramLm = Q(
    "tx_bigram_lm",
    Some(s"""WITH $bigramLmCtes
          SELECT doc_id, n_bigrams, lm_score
          FROM lmsc ORDER BY doc_id"""),
    (s, dir) =>
      Text.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))

  /** X-TX20: epoch-based up-sampling mix — the "repeat source s
    * w times" pre-training data recipe ([[Text.epochMix]]): each doc
    * emits floor(w) copies plus a deterministic per-mille fraction
    * for the remainder; weights may exceed 1 (the existing mixes only
    * select down). The gate hash-checks the FULL expansion, not just
    * counts. */
  private val txEpochMix = Q(
    "tx_epoch_mix",
    Some(s"""WITH w AS (SELECT doc_id, source,
            CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.3
              WHEN 'src2' THEN 0.4 WHEN 'src3' THEN 1.0
              ELSE 0.0 END AS w
          FROM documents),
          c AS (SELECT doc_id, source,
            CAST(floor(w) AS INT)
              + CASE WHEN ${Text.sampleBucketSql("doc_id")}
                  < CAST(round((w - floor(w)) * 1000) AS INT)
                THEN 1 ELSE 0 END AS copies
          FROM w)
          SELECT doc_id, source, CAST(unnest(range(1, copies + 1)) AS INT)
            AS copy_idx
          FROM c WHERE copies > 0
          ORDER BY doc_id, copy_idx"""),
    (s, dir) =>
      Text.epochMix(t(s, dir, "documents"), "doc_id", "source",
          Seq("src0" -> 2.5, "src1" -> 1.3, "src2" -> 0.4, "src3" -> 1.0))
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy("doc_id", "copy_idx"))

  /** X-TX19: CCNet-style fluency buckets — head/middle/tail of the
    * corpus by the self-trained bigram-LM score (the perplexity
    * bucketing CCNet runs before choosing what to train on). The
    * tercile boundaries come from ONE exact-percentile aggregate
    * (round-6, the A7 cross-engine recipe) riding back on a 1-row
    * broadcast — no global sort / single-partition window anywhere;
    * bucket assignment compares the 1e-6-quantized score to the
    * rounded boundaries. Report: per (bucket, lang) doc count +
    * long-sum mean score. */
  private val txCcnetBuckets = Q(
    "tx_ccnet_buckets",
    Some(s"""WITH $bigramLmCtes,
          q AS (SELECT round(quantile_cont(lm_score, 0.33333333), 6) AS q33,
              round(quantile_cont(lm_score, 0.66666667), 6) AS q67 FROM lmsc),
          b AS (SELECT sc.doc_id, d.lang, sc.lm_score,
              CASE WHEN sc.lm_score >= q.q67 THEN 'head'
                   WHEN sc.lm_score >= q.q33 THEN 'middle'
                   ELSE 'tail' END AS bucket
            FROM lmsc sc CROSS JOIN q
            JOIN documents d USING (doc_id))
          SELECT bucket, lang, count(*) AS n_docs,
            ${graft.core.Det.sqlDavgLong("lm_score", 6)} AS mean_lm
          FROM b GROUP BY bucket, lang ORDER BY bucket, lang"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      // NOT persisted (r16, measured): scored feeds two scans (tercile
      // aggregate + bucket join), but the duplicated bigram pipelines
      // run as CONCURRENT independent stages on idle cores, while a
      // persist serializes them behind one materialization — interleaved
      // A/B read 2.66 s unpersisted vs 2.98-3.15 s persisted at sf0.1.
      // Revisit only with a saturated-cluster profile.
      val scored = Text.bigramLmScore(docs, "doc_id", "text")
      val qs = scored.agg(
        round(percentile(col("lm_score"), lit(0.33333333)), 6).as("_q33"),
        round(percentile(col("lm_score"), lit(0.66666667)), 6).as("_q67"))
      scored.join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .crossJoin(broadcast(qs))
        .select(col("lang"), col("lm_score"),
          when(col("lm_score") >= col("_q67"), "head")
            .when(col("lm_score") >= col("_q33"), "middle")
            .otherwise("tail").as("bucket"))
        .groupBy("bucket", "lang")
        .agg(count(lit(1)).as("n_docs"),
          graft.core.Det.davgLong(col("lm_score"), 6).as("mean_lm"))
        .orderBy("bucket", "lang")
    })

  /** X-SS9: cluster-based diverse sampling — per-cell closest
    * representatives from the trained quantizer (coverage across
    * embedding space instead of density-biased random sampling; the
    * selection stage after semantic dedup). Oracle generated at
    * Verify time with the trained centroids inlined (the m8
    * machinery), assignment + distance + rank mirrored op-for-op. */
  private val ssDiverse = Q(
    "ss_diverse_sample",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // nCentroids stays PINNED here (unlike the ANN indexes): the
      // sample's size contract is cells × perCell rows — scaling the
      // cell count with the corpus would change what the user asked
      // for; the per-cell rank window costs one n-row pass regardless
      val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 8)
      Vectors.diverseSample(e, "vec_id", "embedding", cents, perCell = 25)
        .orderBy("cell", "dist_q", "vec_id")
    },
    sqlGen = Some { (s, dir) =>
      val cents = Vectors.trainIvfCentroids(
        t(s, dir, "embeddings"), "embedding", nCentroids = 8)
      val centRows = cents.zipWithIndex.map { case (c, i) =>
        s"($i, ${c.mkString("[", ", ", "]")})"
      }.mkString(",\n              ")
      val distExpr =
        """list_sum(list_transform(range(1, 65), i ->
           (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])
           * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])))"""
      s"""WITH cents AS (SELECT * FROM (VALUES
              $centRows) AS t(cell, cvec)),
          d AS (SELECT e.vec_id, c.cell, $distExpr AS dist
            FROM embeddings e CROSS JOIN cents c),
          ranked AS (SELECT vec_id, cell, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS crn
            FROM d),
          a AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell,
              floor(sqrt(dist) * 1e6 + 0.5) / 1e6 AS dist_q
            FROM ranked WHERE crn = 1),
          r AS (SELECT vec_id, cell, dist_q,
              ROW_NUMBER() OVER (PARTITION BY cell
                ORDER BY dist_q, vec_id) AS rn FROM a)
          SELECT vec_id, cell, dist_q FROM r WHERE rn <= 25
          ORDER BY cell, dist_q, vec_id"""
    })

  /** X-TX17: PMI co-occurrence pairs over the top-64 vocabulary —
    * the collocation/topic-affinity signal. Doc-level distinct
    * occurrences keep every PMI input an exact integer; the single
    * ln() is floor-quantized at 1e-6 (the bigram-LM recipe). The
    * pair enumeration runs AFTER the vocabulary cut, so fanout is
    * vocabulary-bounded, never corpus-bounded (see Text.pmiCooccur). */
  private val txPmi = Q(
    "tx_pmi_cooccur",
    Some(s"""WITH t AS (SELECT doc_id,
              list_filter($toksSql, x -> length(x) > 0) AS toks FROM documents),
          dt AS (SELECT DISTINCT doc_id, term FROM
            (SELECT doc_id, unnest(toks) AS term FROM t)),
          dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY term),
          vocab AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 64),
          n AS (SELECT count(*) AS n_docs FROM documents),
          ft AS (SELECT dt.doc_id, dt.term, v.df
            FROM dt JOIN vocab v USING (term)),
          pairs AS (SELECT a.term AS w1, b.term AS w2,
              a.df AS df1, b.df AS df2, count(*) AS c12
            FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY a.term, b.term, a.df, b.df)
          SELECT w1, w2, c12,
            floor(ln((CAST(c12 AS DOUBLE) * n_docs)
                / (CAST(df1 AS DOUBLE) * df2)) * 1000000.0 + 0.5)
              / 1000000.0 AS pmi
          FROM pairs CROSS JOIN n
          WHERE c12 >= 2
          ORDER BY w1, w2"""),
    (s, dir) =>
      Text.pmiCooccur(t(s, dir, "documents"), "doc_id", "text",
          vocabSize = 64, minPairDocs = 2)
        .orderBy("w1", "w2"))

  /** TF-IDF top-3 terms per document, ranked by the round-6 score so
    * a last-ulp ln() difference can't flip the ranking. */
  private val txTfidf = Q(
    "tx_tfidf",
    Some(s"""WITH $termCountCtes,
          st AS (SELECT doc_id, term, tf,
              sum(tf) OVER (PARTITION BY doc_id) AS dl,
              count(*) OVER (PARTITION BY term) AS dfq FROM tc),
          sc AS (SELECT doc_id, term,
              round((tf / dl) * ln((SELECT count(DISTINCT doc_id) FROM documents)
                / dfq), 6) AS tfidf FROM st),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, term) AS rank_in_group FROM sc)
          SELECT doc_id, term, tfidf, rank_in_group FROM r
          WHERE rank_in_group <= 3 ORDER BY doc_id, rank_in_group"""),
    (s, dir) =>
      Text.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank_in_group"))

  /** BM25 top-10 documents for a fixed query-term bag (k1 = 1.2,
    * b = 0.75); per-term contributions summed decimal-exact. */
  private val txBm25 = Q(
    "tx_bm25",
    Some(s"""WITH $termCountCtes,
          q AS (SELECT doc_id, term, tf FROM tc
            WHERE term IN ('join', 'data', 'spark')),
          dl AS (SELECT doc_id, len($toksSql) AS dl FROM documents),
          dfq AS (SELECT term, count(*) AS dfq FROM q GROUP BY term),
          c AS (SELECT count(*) AS n, CAST(sum(len($toksSql)) AS BIGINT) AS sumdl
            FROM documents),
          contrib AS (SELECT q.doc_id,
              ln(1.0 + (c.n - dfq.dfq + 0.5) / (dfq.dfq + 0.5))
                * (q.tf * (1.2 + 1.0))
                / (q.tf + 1.2 * ((1.0 - 0.75)
                    + ((0.75 * dl.dl) / (c.sumdl / c.n)))) AS contrib
            FROM q JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN c)
          SELECT doc_id, round(${graft.core.Det.sqlDsum("contrib", 8)}, 6) AS bm25
          FROM contrib GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 10"""),
    (s, dir) =>
      Text.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("join", "data", "spark"), k = 10))

  /** Global vocabulary report: top-20 terms by corpus frequency. */
  private val txVocab = Q(
    "tx_vocab_topk",
    Some(s"""WITH $termCountCtes
          SELECT term, CAST(sum(tf) AS BIGINT) AS n_occurrences,
            count(*) AS n_docs
          FROM tc GROUP BY term ORDER BY n_occurrences DESC, term LIMIT 20"""),
    (s, dir) =>
      Text.vocabTopK(t(s, dir, "documents"), "doc_id", "text", k = 20))

  /** Stratified deterministic sampling: per-language per-mille rates
    * over an LCG id bucket — reproducible row-for-row across engines,
    * reruns and partitionings (no RNG). */
  private val p12Stratified = Q(
    "p12_stratified_sample",
    Some(s"""WITH s AS (SELECT doc_id, lang,
              ${Text.sampleBucketSql("doc_id")} AS sample_bucket FROM documents)
          SELECT doc_id, lang, sample_bucket FROM s
          WHERE sample_bucket < CASE lang WHEN 'en' THEN 100 WHEN 'de' THEN 250
            WHEN 'es' THEN 400 WHEN 'fr' THEN 550 WHEN 'zh' THEN 700 ELSE 0 END
          ORDER BY doc_id"""),
    (s, dir) =>
      Text.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
          ratesPerMille = Seq("en" -> 100, "de" -> 250, "es" -> 400,
            "fr" -> 550, "zh" -> 700))
        .orderBy("doc_id"))

  /** Balanced domain mixing: downsample to integer lang weights
    * (en:de:es:fr:zh = 3:2:2:2:1); the kept set is picked by
    * LCG-bucket-then-id rank, so it is exactly reproducible. */
  private val txMix = Q(
    "tx_domain_mix",
    Some(s"""WITH b AS (SELECT doc_id, lang,
            ${Text.sampleBucketSql("doc_id")} AS bucket FROM documents),
          cnt AS (SELECT lang, count(*) AS n,
            CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 WHEN 'es' THEN 2
              WHEN 'fr' THEN 2 WHEN 'zh' THEN 1 ELSE 0 END AS w
            FROM b GROUP BY lang),
          c AS (SELECT min(n / w) AS c FROM cnt WHERE w > 0),
          q AS (SELECT lang, CAST(floor(c.c * w) AS BIGINT) AS k
            FROM cnt, c WHERE w > 0),
          r AS (SELECT doc_id, lang, ROW_NUMBER() OVER
              (PARTITION BY lang ORDER BY bucket, doc_id) AS mix_rank FROM b)
          SELECT r.doc_id, r.lang, r.mix_rank FROM r JOIN q USING (lang)
          WHERE mix_rank <= q.k ORDER BY lang, mix_rank"""),
    (s, dir) =>
      Text.balancedMix(t(s, dir, "documents"), "doc_id", "lang",
          weights = Seq("en" -> 3, "de" -> 2, "es" -> 2, "fr" -> 2, "zh" -> 1))
        .select(col("doc_id"), col("lang"),
          col("mix_rank").cast("long").as("mix_rank"))
        .orderBy("lang", "mix_rank"))

  /** Temperature-flattened resampling (τ = 0.5): per-source quotas
    * k_d = floor(T · √n_d / Σ√n) — the multilingual/domain
    * rebalancing rule; τ = 0.5 keeps every float op correctly rounded
    * so quotas mirror bit-for-bit (sqrt, left-to-right Σ over the
    * source-sorted array, one multiply chain, floor). Selection by
    * the LCG-bucket rank shared with tx_domain_mix. */
  private val txTemp = Q(
    "tx_temperature_mix",
    Some(s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
          z AS (SELECT sum(n) AS nn,
            list_sum(array_agg(sqrt(CAST(n AS DOUBLE)) ORDER BY source)) AS zz
            FROM c),
          q AS (SELECT source,
            floor(CAST(z.nn AS DOUBLE) * 0.5 * sqrt(CAST(c.n AS DOUBLE)) / z.zz) AS k
            FROM c CROSS JOIN z),
          r AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY ${Text.sampleBucketSql("doc_id")}, doc_id) AS mix_rank
            FROM documents)
          SELECT r.doc_id, r.source, r.mix_rank FROM r JOIN q USING (source)
          WHERE r.mix_rank <= q.k ORDER BY source, mix_rank"""),
    (s, dir) =>
      Text.temperatureMix(t(s, dir, "documents"), "doc_id", "source",
          targetFraction = 0.5)
        .select(col("doc_id"), col("source"),
          col("mix_rank").cast("long").as("mix_rank"))
        .orderBy("source", "mix_rank"))

  /** Sequence packing: per-lang concat-and-chunk into 512-token
    * context windows; one row per (doc, window) overlap with the
    * doc's token slice. lang is the shard key — each shard packs
    * independently (the 100 TB shape: no global total order). */
  private val txPack = Q(
    "tx_pack_windows",
    Some(s"""WITH t AS (SELECT doc_id, lang, len($toksSql) AS n_toks FROM documents),
          c AS (SELECT doc_id, lang, n_toks,
            CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end FROM t),
          s AS (SELECT *, cum_end - n_toks AS cum_start FROM c),
          w AS (SELECT lang, doc_id, cum_start, cum_end,
            unnest(range(CAST(floor(cum_start / 512) AS BIGINT),
              CAST(floor((cum_end - 1) / 512) AS BIGINT) + 1)) AS window_id FROM s)
          SELECT lang, window_id, doc_id,
            greatest(cum_start, window_id * 512) - window_id * 512 AS start_in_window,
            least(cum_end, (window_id + 1) * 512) - window_id * 512 AS end_in_window
          FROM w ORDER BY lang, window_id, doc_id"""),
    (s, dir) =>
      Text.packWindows(t(s, dir, "documents"), "doc_id", "text", "lang",
          budget = 512)
        .orderBy("lang", "window_id", "doc_id"))

  /** Packing-efficiency report over tx_pack_windows: per-shard
    * window/doc counts, token mass, tail waste, round-6 fill
    * fraction. The job-health gate on a packing run. */
  private val txPackReport = Q(
    "tx_pack_report",
    Some(s"""WITH t AS (SELECT doc_id, lang, len($toksSql) AS n_toks FROM documents),
          c AS (SELECT doc_id, lang, n_toks,
            CAST(sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_end FROM t),
          s AS (SELECT *, cum_end - n_toks AS cum_start FROM c),
          w AS (SELECT lang, doc_id, cum_start, cum_end,
            unnest(range(CAST(floor(cum_start / 512) AS BIGINT),
              CAST(floor((cum_end - 1) / 512) AS BIGINT) + 1)) AS window_id FROM s),
          p AS (SELECT lang, window_id, doc_id,
            greatest(cum_start, window_id * 512) - window_id * 512 AS s_in,
            least(cum_end, (window_id + 1) * 512) - window_id * 512 AS e_in
            FROM w)
          SELECT lang, count(DISTINCT window_id) AS n_windows,
            count(DISTINCT doc_id) AS n_docs,
            CAST(sum(e_in - s_in) AS BIGINT) AS token_mass,
            CAST(count(DISTINCT window_id) * 512 - sum(e_in - s_in) AS BIGINT)
              AS tail_waste,
            round(CAST(sum(e_in - s_in) AS DOUBLE)
              / CAST(count(DISTINCT window_id) * 512 AS DOUBLE), 6) AS fill_frac
          FROM p GROUP BY lang ORDER BY lang"""),
    (s, dir) =>
      Text.packReport(t(s, dir, "documents"), "doc_id", "text", "lang",
          budget = 512)
        .orderBy("lang"))

  /** Exact dedup: hash-groupBy on normalized content, min-id kept. */
  private val ddExact = Q(
    "dd_exact",
    Some("""SELECT md5(lower(text)) AS content_key, min(doc_id) AS kept_id,
            count(*) AS n_copies
            FROM documents GROUP BY content_key ORDER BY content_key"""),
    (s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("content_key"))

  /** X-DD16: soft dedup — duplicates are down-weighted (1/n_copies)
    * instead of dropped, preserving the group's unit training mass.
    * Hash aggregate + same-key join back; detail rows shuffle once. */
  private val ddSoft = Q(
    "dd_soft_weights",
    Some("""WITH k AS (SELECT doc_id, md5(lower(text)) AS content_key
              FROM documents),
            c AS (SELECT content_key, count(*) AS n_copies FROM k
              GROUP BY content_key)
            SELECT k.doc_id, k.content_key, c.n_copies,
              floor(1000000.0 / n_copies + 0.5) / 1000000.0 AS weight
            FROM k JOIN c USING (content_key) ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.softWeights(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))

  /** MinHash + LSH near-dedup: shingle → 8 minhashes → 2 bands →
    * bucket-join candidates → exact-Jaccard verify. Never compares
    * all pairs. */
  private val ddMinhash = Q(
    "dd_minhash_lsh",
    Some {
      val sigs = (0 until 8)
        .map(j => s"list_min(list_transform(sh, x -> md5('$j:' || x))) AS s$j")
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, $sh5Sql AS sh FROM documents),
          sig AS (SELECT doc_id, sh, $sigs FROM d),
          bands AS (
            SELECT doc_id, 0 AS band, md5(s0 || s1 || s2 || s3) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, md5(s4 || s5 || s6 || s7) AS key FROM sig),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
            WHERE x.doc_id < y.doc_id),
          v AS (SELECT cand.a, cand.b,
            len(list_intersect(da.sh, db.sh))
              / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) AS jaccard
            FROM cand JOIN d da ON cand.a = da.doc_id JOIN d db ON cand.b = db.doc_id)
          SELECT a, b, jaccard FROM v WHERE jaccard >= 0.25 ORDER BY a, b"""
    },
    (s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4)
        .orderBy("a", "b"))

  /** X-DD17: LSH estimator-quality report — per candidate pair, the
    * signature-agreement estimate vs the exact shingle Jaccard. The
    * banding-config health gate; see Dedup.lshQualityReport. */
  private val ddLshQuality = Q(
    "dd_lsh_quality",
    Some {
      val sigs = (0 until 8)
        .map(j => s"list_min(list_transform(sh, x -> md5('$j:' || x))) AS s$j")
        .mkString(", ")
      val agree = (0 until 8)
        .map(j => s"(CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH d AS (SELECT doc_id, $sh5Sql AS sh FROM documents),
          sig AS (SELECT doc_id, sh, $sigs FROM d),
          bands AS (
            SELECT doc_id, 0 AS band, md5(s0 || s1 || s2 || s3) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, md5(s4 || s5 || s6 || s7) AS key FROM sig),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
            WHERE x.doc_id < y.doc_id),
          q AS (SELECT cand.a, cand.b,
            CAST($agree AS DOUBLE) / 8 AS est_jaccard,
            len(list_intersect(sa.sh, sb.sh))
              / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              AS exact_jaccard
            FROM cand JOIN sig sa ON cand.a = sa.doc_id
              JOIN sig sb ON cand.b = sb.doc_id)
          SELECT a, b, est_jaccard, exact_jaccard,
            abs(est_jaccard - exact_jaccard) AS abs_err
          FROM q ORDER BY a, b"""
    },
    (s, dir) =>
      Dedup.lshQualityReport(t(s, dir, "documents"), "doc_id", "text",
          shingleSize = 5, numHashes = 8, bandSize = 4)
        .orderBy("a", "b"))

  /** X-DD18: dedup threshold-sensitivity sweep — every LSH candidate
    * pair bucketed by its exact Jaccard (0.05 grid) with the
    * cumulative pairs-kept count per threshold; the "pick the
    * threshold" gate run before committing a corpus-wide dedup. Same
    * candidate machinery as dd_minhash_lsh with the verify threshold
    * at 0. */
  private val ddSweep = Q(
    "dd_threshold_sweep",
    Some {
      val sigs = (0 until 8)
        .map(j => s"list_min(list_transform(sh, x -> md5('$j:' || x))) AS s$j")
        .mkString(", ")
      s"""WITH d AS (SELECT doc_id, $sh5Sql AS sh FROM documents),
          sig AS (SELECT doc_id, sh, $sigs FROM d),
          bands AS (
            SELECT doc_id, 0 AS band, md5(s0 || s1 || s2 || s3) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1 AS band, md5(s4 || s5 || s6 || s7) AS key FROM sig),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
            WHERE x.doc_id < y.doc_id),
          v AS (SELECT cand.a, cand.b,
            len(list_intersect(da.sh, db.sh))
              / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
              AS jaccard
            FROM cand JOIN d da ON cand.a = da.doc_id
              JOIN d db ON cand.b = db.doc_id),
          h AS (SELECT floor(jaccard * 20) / 20 AS threshold_bin,
              count(*) AS n_pairs FROM v GROUP BY threshold_bin)
          SELECT threshold_bin, n_pairs,
            CAST(sum(n_pairs) OVER (ORDER BY threshold_bin DESC
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_kept_at_threshold
          FROM h ORDER BY threshold_bin"""
    },
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.minhashVerifiedPairs(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.0, shingleSize = 5,
        numHashes = 8, bandSize = 4)
      val h = pairs
        .groupBy((floor(col("jaccard") * 20) / 20).as("threshold_bin"))
        .agg(count(lit(1)).as("n_pairs"))
      h.withColumn("n_kept_at_threshold",
          sum(col("n_pairs")).over(Window.orderBy(col("threshold_bin").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("threshold_bin")
    })

  /** Shared poly-family CTE chain: src -> shingles -> Horner
    * codes -> 8 LCG minima -> 2 band keys -> candidate pairs ->
    * Jaccard-verified pairs (`v`). Used by dd_minhash_lsh_poly,
    * dd_dup_groups and the ep4 corpus pipeline (which feeds a
    * filtered CTE instead of the raw table). */
  private lazy val polyPairCtes: String = polyPairCtesFrom("documents")

  /** Suffixed shingles → Horner codes → LCG minima → band keys CTE
    * chain (d/dc/sig/bands + sfx), so two differently-filtered
    * sources can band side by side in one query (incremental dedup).
    * sfx = "" reproduces the original self-join chain names. */
  private[graft] def polyBandCtesFrom(src: String, sfx: String): String = {
    val coeffs = graft.functions.Expressions.polyCoeffs(8)
    val code = """CASE WHEN length(x) = 0 THEN 0
      ELSE list_reduce(list_transform(range(1, length(x) + 1),
        i -> CAST(unicode(x[CAST(i AS INT)]) AS BIGINT)),
        (a, b) -> (a * 31 + b) % 1000000007) END"""
    val sigs = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(codes, c -> ($a * c + $b) % 1000000007)) AS s$j"
    }.mkString(", ")
    def band(b: Int) =
      (0 until 4).map(i => s"CAST(s${4 * b + i} AS VARCHAR)").mkString(" || ':' || ")
    s"""d$sfx AS (SELECT doc_id, $sh5Sql AS sh FROM $src),
        dc$sfx AS (SELECT doc_id, sh,
          list_transform(sh, x -> $code) AS codes FROM d$sfx),
        sig$sfx AS (SELECT doc_id, sh, $sigs FROM dc$sfx),
        bands$sfx AS (
          SELECT doc_id, 0 AS band, ${band(0)} AS key FROM sig$sfx
          UNION ALL
          SELECT doc_id, 1 AS band, ${band(1)} AS key FROM sig$sfx)"""
  }

  private[graft] def polyPairCtesFrom(src: String): String =
    s"""${polyBandCtesFrom(src, "")},
        cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
          FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
          WHERE x.doc_id < y.doc_id),
        v AS (SELECT cand.a, cand.b,
          len(list_intersect(da.sh, db.sh))
            / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) AS jaccard
          FROM cand JOIN d da ON cand.a = da.doc_id JOIN d db ON cand.b = db.doc_id)"""

  /** MinHash + LSH near-dedup, polynomial/LCG hash family — the
    * ENGINE path for scale (VERDICT r01 #1): Horner shingle codes +
    * per-hash LCG replace 8 md5 compress calls per shingle with a few
    * multiplies, and the family is still exactly SQL-mirrorable (all
    * arithmetic < 2^63), so this keeps the full hash-match gate
    * rather than dropping to a rows-only check. */
  private val ddMinhashPoly = Q(
    "dd_minhash_lsh_poly",
    Some(s"""WITH $polyPairCtes
          SELECT a, b, jaccard FROM v WHERE jaccard >= 0.25 ORDER BY a, b"""),
    (s, dir) =>
      Dedup.minhashVerifiedPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4, poly = true)
        .orderBy("a", "b"))

  /** Stateful streaming near-dedup, batch-mode execution: the SAME
    * `flatMapGroupsWithState` transform StatefulStreamsSpec drives
    * under readStream runs here on the static corpus, and must equal
    * the declarative banded-join pipeline — so it shares
    * dd_minhash_lsh_poly's oracle verbatim (same kernel, same
    * buckets, same verify arithmetic; only the execution engine —
    * stream state vs shuffle join — differs). */
  private val stNearDup = Q(
    "st_stream_neardup",
    Some(s"""WITH $polyPairCtes
          SELECT a, b, jaccard FROM v WHERE jaccard >= 0.25 ORDER BY a, b"""),
    (s, dir) =>
      graft.streaming.Streams.nearDupPairs(t(s, dir, "documents"), threshold = 0.25)
        .dropDuplicates("a", "b")
        .orderBy("a", "b"))

  /** X-ST13: stateful streaming exact-dedup ingest gate, batch-mode
    * execution — the same flatMapGroupsWithState transform
    * StatefulStreamsSpec drives across micro-batches runs here on
    * the static corpus. Per-doc admit/reject with the corpus
    * content-key set in stream state (first occurrence by id wins),
    * so the oracle is the window rank over the shared
    * md5(lower(text)) key — first-occurrence semantics identical to
    * dd_exact's min-id convention. */
  private val stIngestDedup = Q(
    "st_ingest_dedup",
    Some("""SELECT doc_id, md5(lower(text)) AS content_key,
            (row_number() OVER (PARTITION BY md5(lower(text))
               ORDER BY doc_id) > 1) AS is_dup
            FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      graft.streaming.Streams.exactIngestGate(t(s, dir, "documents"))
        .orderBy("doc_id"))

  /** Incremental near-dedup: the ~10% id-bucket slice plays the
    * incoming crawl batch; flag batch docs that near-duplicate the
    * existing corpus (band-bucket join batch × existing, exact
    * Jaccard verify — same poly family both engines). */
  private val ddIncremental = Q(
    "dd_incremental",
    Some(s"""WITH base AS (SELECT doc_id, text,
            ${Text.sampleBucketSql("doc_id")} AS bucket FROM documents),
          newsrc AS (SELECT doc_id, text FROM base WHERE bucket < 100),
          oldsrc AS (SELECT doc_id, text FROM base WHERE bucket >= 100),
          ${polyBandCtesFrom("newsrc", "_n")},
          ${polyBandCtesFrom("oldsrc", "_o")},
          cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
            FROM bands_n n JOIN bands_o o ON n.band = o.band AND n.key = o.key),
          v AS (SELECT cand.new_id, cand.old_id,
            len(list_intersect(a.sh, b.sh))
              / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
            FROM cand JOIN d_n a ON cand.new_id = a.doc_id
              JOIN d_o b ON cand.old_id = b.doc_id)
          SELECT new_id AS doc_id, count(*) AS n_matches,
            max(jaccard) AS max_jaccard
          FROM v WHERE jaccard >= 0.25
          GROUP BY new_id ORDER BY doc_id"""),
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("_bucket", Text.sampleBucket(col("doc_id")))
      Dedup.incrementalNearDups(
          d.where(col("_bucket") >= 100), d.where(col("_bucket") < 100),
          "doc_id", "text", threshold = 0.25, numHashes = 8, bandSize = 4,
          poly = true)
        .orderBy("doc_id")
    })

  /** Fold of the first 6 hex chars of a DuckDB md5 string into the
    * integer Spark's `conv(substring(md5(..), 1, 6), 16, 10)`
    * computes — the shared bit-position hash of the bloom filter. */
  private def hex6Sql(md5Expr: String): String =
    (0 until 6).map(i =>
        s"(strpos('0123456789abcdef', substr($md5Expr, ${i + 1}, 1)) - 1)" +
        s" * ${1L << (4 * (5 - i))}")
      .mkString("(", " + ", ")")

  /** X-DD24: bloom-prefiltered incremental exact dedup — the
    * membership-sketch ingest gate ([[Dedup.bloomIncremental]]):
    * existing corpus → fixed-size bitmap (word-level bit_or
    * aggregate, broadcast literal), batch docs bit-test in the SCAN
    * stage, and only bloom HITS pay the exact content-key join. No
    * false negatives by construction; nBits auto-scales
    * ([[Dedup.bloomBitsFor]], ~16 bits/element) from the parquet
    * footer count ([[ddBloomBits]], shared by the query and its
    * GENERATED oracle), which mirrors the salted-md5 bit positions
    * (hex-char fold == Spark's conv) and the positions-set membership
    * exactly. */
  private def ddBloomBits(s: SparkSession, dir: String): Int =
    Dedup.bloomBitsFor(graft.core.Tables.parquetRowCount(s, dir, "documents"))

  private val ddBloom = Q(
    "dd_bloom_incremental",
    None,
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("_bucket", Text.sampleBucket(col("doc_id")))
      Dedup.bloomIncremental(
          d.where(col("_bucket") >= 100), d.where(col("_bucket") < 100),
          "doc_id", "text", nBits = ddBloomBits(s, dir))
        .orderBy("doc_id")
    },
    sqlGen = Some { (s, dir) =>
      val nBits = ddBloomBits(s, dir)
      def pos(j: Int) = s"(${hex6Sql(s"md5('$j:' || t)")} % $nBits)"
      s"""WITH base AS (SELECT doc_id, text,
              ${Text.sampleBucketSql("doc_id")} AS bucket FROM documents),
          ex AS (SELECT lower(text) AS t FROM base WHERE bucket >= 100),
          bt AS (SELECT doc_id, lower(text) AS t FROM base WHERE bucket < 100),
          exp AS (SELECT DISTINCT pos FROM (
            ${(0 until 4).map(j => s"SELECT ${pos(j)} AS pos FROM ex")
              .mkString("\n            UNION ALL\n            ")}) u),
          bp AS (
            ${(0 until 4).map(j =>
                s"SELECT doc_id, $j AS j, ${pos(j)} AS pos FROM bt")
              .mkString("\n            UNION ALL\n            ")}),
          hit AS (SELECT bp.doc_id, CAST(count(*) AS BIGINT) AS nset
            FROM bp JOIN exp USING (pos) GROUP BY bp.doc_id),
          exk AS (SELECT DISTINCT md5(t) AS k FROM ex),
          res AS (SELECT b.doc_id,
              coalesce(h.nset, 0) = 4 AS bloom_hit,
              (coalesce(h.nset, 0) = 4
                AND EXISTS (SELECT 1 FROM exk WHERE exk.k = md5(b.t)))
                AS is_dup
            FROM bt b LEFT JOIN hit h ON b.doc_id = h.doc_id)
          SELECT doc_id, bloom_hit, is_dup,
            (bloom_hit AND NOT is_dup) AS false_positive
          FROM res ORDER BY doc_id"""
    })

  /** Duplicate-group canonicalization: connected components over the
    * verified near-dup pair graph (the step that turns pair lists
    * into a keep/drop decision). Oracle: recursive-CTE transitive
    * closure + min-label, same pattern as the m1 DBSCAN oracle. */
  private val ddDupGroups = Q(
    "dd_dup_groups",
    Some(s"""WITH RECURSIVE $polyPairCtes,
          p2 AS (SELECT a, b FROM v WHERE jaccard >= 0.25),
          edges AS (SELECT a AS x, b AS y FROM p2
            UNION ALL SELECT b AS x, a AS y FROM p2),
          nodes AS (SELECT DISTINCT x AS id FROM edges),
          r(id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.y, r.label FROM r JOIN edges e ON r.id = e.x),
          cc AS (SELECT id, min(label) AS canonical FROM r GROUP BY id)
          SELECT d.doc_id, coalesce(cc.canonical, d.doc_id) AS canonical_id,
            (d.doc_id != coalesce(cc.canonical, d.doc_id)) AS is_dup
          FROM d LEFT JOIN cc ON d.doc_id = cc.id ORDER BY d.doc_id"""),
    (s, dir) =>
      Dedup.duplicateGroups(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4, poly = true)
        .orderBy("doc_id"))

  /** Duplicate-group size report over dd_dup_groups: groups per size
    * + docs held — the dedup-health gate. Oracle: same recursive
    * closure, two stacked aggregates. */
  private val ddGroupStats = Q(
    "dd_group_stats",
    Some(s"""WITH RECURSIVE $polyPairCtes,
          p2 AS (SELECT a, b FROM v WHERE jaccard >= 0.25),
          edges AS (SELECT a AS x, b AS y FROM p2
            UNION ALL SELECT b AS x, a AS y FROM p2),
          nodes AS (SELECT DISTINCT x AS id FROM edges),
          r(id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.y, r.label FROM r JOIN edges e ON r.id = e.x),
          cc AS (SELECT id, min(label) AS canonical FROM r GROUP BY id),
          g AS (SELECT coalesce(cc.canonical, d.doc_id) AS canonical_id
            FROM d LEFT JOIN cc ON d.doc_id = cc.id),
          sizes AS (SELECT canonical_id, count(*) AS group_size
            FROM g GROUP BY canonical_id)
          SELECT group_size, count(*) AS n_groups,
            group_size * count(*) AS n_docs
          FROM sizes GROUP BY group_size ORDER BY group_size"""),
    (s, dir) =>
      // fused stats path (r16): sizes from the CC frame + a 1×1-row
      // singleton count — drops the corpus-spine join and the
      // fact-sized canonical_id aggregate (byte-identity with the
      // dupGroupStats∘duplicateGroups composition gated in
      // DedupVectorsSpec and by this oracle)
      Dedup.dupGroupSizeStats(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4,
          poly = true)
        .orderBy("group_size"))

  /** Semantic duplicate groups: embedding-cosine pairs (hyperplane
    * LSH buckets, round-6 cosine ≥ 0.4) → connected components →
    * canonical vec per group — the paraphrase/translation dedup
    * exact-text methods cannot do. Oracle: the dd_embcos_lsh keyed
    * CTEs + the dd_dup_groups recursive closure. */
  private val ddSemantic = Q(
    "dd_semantic_groups",
    None,
    (s, dir) =>
      Dedup.semanticDupGroups(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4, tables = 8, planes = embPlanes(s, dir))
        .orderBy("vec_id"),
    sqlGen = Some { (s, dir) =>
      val tableRows =
        lshKeyedRowsSql(planes = embPlanes(s, dir), tables = 8, dim = 64)
      s"""WITH RECURSIVE keyed AS ($tableRows),
          cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
              x.embedding AS av, y.embedding AS bv
            FROM keyed x JOIN keyed y ON x.tbl = y.tbl AND x.key = y.key
            WHERE x.vec_id < y.vec_id),
          scored AS (SELECT DISTINCT a, b, ${cosSql("av", "bv")} AS cosine
            FROM cand),
          p2 AS (SELECT a, b FROM scored WHERE cosine >= 0.4),
          edges AS (SELECT a AS x, b AS y FROM p2
            UNION ALL SELECT b AS x, a AS y FROM p2),
          nodes AS (SELECT DISTINCT x AS id FROM edges),
          r(id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.y, r.label FROM r JOIN edges e ON r.id = e.x),
          cc AS (SELECT id, min(label) AS canonical FROM r GROUP BY id)
          SELECT em.vec_id, coalesce(cc.canonical, em.vec_id) AS canonical_id,
            (em.vec_id != coalesce(cc.canonical, em.vec_id)) AS is_dup
          FROM embeddings em LEFT JOIN cc ON em.vec_id = cc.id
          ORDER BY em.vec_id"""
    })

  /** Benchmark decontamination: the deterministic ~2% id-bucket slice
    * of the FIRST 500 ids (sampleBucket < 20 ∧ doc_id < 500) plays
    * the eval set; a training doc is contaminated iff it shares any
    * word 4-gram with it. Inverted-index equi-join on the gram —
    * never train × bench pairs. The id cap (r14, VERDICT #6) pins the
    * eval side to a CONSTANT row count as the corpus grows — the
    * production shape, where benchmarks are fixed files next to an
    * ever-growing crawl; the old pure-fraction slice made the k=16
    * ScaleStudy ratio (6.2) measure eval-set growth, a fixture
    * artifact the operator doesn't have. */
  private val ddDecontaminate = Q(
    "dd_decontaminate",
    Some(s"""WITH t AS (SELECT doc_id,
            ${Text.sampleBucketSql("doc_id")} AS bucket,
            $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, bucket,
            list_distinct(${ngramsOf("toks", 4)}) AS gr FROM t),
          tg AS (SELECT doc_id, unnest(gr) AS gram FROM g
            WHERE NOT (bucket < 20 AND doc_id < 500)),
          bg AS (SELECT doc_id AS bench_id, unnest(gr) AS gram FROM g
            WHERE bucket < 20 AND doc_id < 500)
          SELECT tg.doc_id, count(DISTINCT tg.gram) AS n_shared_grams,
            count(DISTINCT bg.bench_id) AS n_bench_docs
          FROM tg JOIN bg USING (gram)
          GROUP BY tg.doc_id ORDER BY doc_id"""),
    (s, dir) => {
      val d = t(s, dir, "documents")
        .withColumn("_bucket", Text.sampleBucket(col("doc_id")))
      val isBench = col("_bucket") < 20 && col("doc_id") < 500
      Dedup.decontaminate(
          d.where(!isBench), d.where(isBench),
          "doc_id", "text", n = 4)
        .orderBy("doc_id")
    })

  /** N-gram Jaccard similarity on a deterministic pair set (word
    * 3-grams; the pairwise kernel of near-dedup). */
  private val ddNgram = Q(
    "dd_ngram_jaccard",
    Some(s"""WITH d AS (SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len($toksSql) - 2, 1) + 1),
               i -> array_to_string(($toksSql)[CAST(i AS INT):CAST(i AS INT) + 2], ' '))) AS sh
             FROM documents)
             SELECT a.doc_id AS a, b.doc_id AS b,
               len(list_intersect(a.sh, b.sh))
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
             FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
             ORDER BY a"""),
    (s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"), Text.wordShingles(col("text"), 3).as("sh"))
      val a = d.select(col("doc_id").as("a"), col("sh").as("_sha"))
      val b = d.select(col("doc_id").as("b"), col("sh").as("_shb"))
      a.join(b, col("b") === col("a") + 1)
        .select(col("a"), col("b"), Text.jaccard(col("_sha"), col("_shb")).as("jaccard"))
        .orderBy("a")
    })

  /** X-TX30: ROUGE-2 overlap on the deterministic consecutive-id
    * pair set — the summarization/duplication EVAL metric next to
    * dd_ngram_jaccard's set-Jaccard: clipped MULTISET bigram overlap
    * (Σ min(countₐ(g), countᵦ(g)) — Lin '04's clipping, which plain
    * set intersection over-credits for repeated grams), with recall
    * against doc a, precision against doc b, and their harmonic F1.
    * All counts are exact integers; each ratio is ONE double
    * division of two exact longs and F1 one fixed-shape expression
    * over those ratios — bit-identical cross-engine without
    * quantization. Scale shape: gram explode in the scan (spread
    * first — the r01 byte-small/CPU-heavy trap), one (doc, gram)
    * hash aggregate, one gram-keyed equi-join restricted to adjacent
    * ids; never all-pairs. */
  private val txRouge = Q(
    "tx_rouge_overlap",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          g AS (SELECT doc_id, unnest(${ngramsOf("toks", 2)}) AS gram FROM t),
          c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram),
          tot AS (SELECT doc_id, count(*) AS total FROM g GROUP BY doc_id),
          ov AS (SELECT x.doc_id AS a, sum(least(x.n, y.n)) AS n_overlap
            FROM c x JOIN c y ON y.doc_id = x.doc_id + 1 AND y.gram = x.gram
            GROUP BY x.doc_id),
          base AS (SELECT ta.doc_id AS a, tb.doc_id AS b,
              coalesce(ov.n_overlap, 0) AS n_overlap,
              ta.total AS total_a, tb.total AS total_b
            FROM tot ta JOIN tot tb ON tb.doc_id = ta.doc_id + 1
            LEFT JOIN ov ON ov.a = ta.doc_id),
          r AS (SELECT a, b, CAST(n_overlap AS BIGINT) AS n_overlap,
              total_a, total_b,
              CAST(n_overlap AS DOUBLE) / total_a AS rouge2_recall,
              CAST(n_overlap AS DOUBLE) / total_b AS rouge2_precision
            FROM base)
          SELECT a, b, n_overlap, total_a, total_b, rouge2_recall,
            rouge2_precision,
            CASE WHEN n_overlap = 0 THEN 0.0
              ELSE 2.0 * rouge2_recall * rouge2_precision
                   / (rouge2_recall + rouge2_precision) END AS rouge2_f1
          FROM r ORDER BY a"""),
    (s, dir) => {
      val d = t(s, dir, "documents")
      val g = graft.core.Tables.spread(
          d.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), explode(Text.wordNgrams(col("text"), 2)).as("gram"))
      val c = g.groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
      // totals from the aggregated counts, not a second pass over the
      // raw gram explode (Σ n over a doc ≡ its occurrence count): the
      // explode subtree then runs once under the reused (doc_id, gram)
      // exchange instead of twice (r15, guide §2.3 aggregate-first)
      val tot = c.groupBy("doc_id").agg(sum(col("n")).as("total"))
      val ov = c.select(col("doc_id").as("_xa"), col("gram"), col("n").as("_xn"))
        .join(c.select((col("doc_id") - 1).as("_xa"), col("gram"), col("n").as("_yn")),
          Seq("_xa", "gram"))
        .groupBy(col("_xa").as("a"))
        .agg(sum(least(col("_xn"), col("_yn"))).as("_ov"))
      val base = tot.select(col("doc_id").as("a"), col("total").as("total_a"))
        .join(tot.select((col("doc_id") - 1).as("a"), col("doc_id").as("b"),
          col("total").as("total_b")), Seq("a"))
        .join(ov, Seq("a"), "left")
        .select(col("a"), col("b"),
          coalesce(col("_ov"), lit(0L)).as("n_overlap"),
          col("total_a"), col("total_b"))
      val withR = base
        .withColumn("rouge2_recall",
          col("n_overlap").cast(org.apache.spark.sql.types.DoubleType) / col("total_a"))
        .withColumn("rouge2_precision",
          col("n_overlap").cast(org.apache.spark.sql.types.DoubleType) / col("total_b"))
      withR
        .withColumn("rouge2_f1",
          when(col("n_overlap") === 0L, lit(0.0))
            .otherwise(lit(2.0) * col("rouge2_recall") * col("rouge2_precision")
              / (col("rouge2_recall") + col("rouge2_precision"))))
        .orderBy("a")
    })

  /** X-TX31: pairwise domain vocabulary overlap — the corpus-mix
    * diagnostic a curation pipeline runs before weighting domains
    * (near-identical sources are mix-redundant; disjoint ones add
    * coverage): per-source DISTINCT word-3-gram vocabularies, then
    * Jaccard + containment for every source pair. Zero-overlap pairs
    * still emit (size-frame left join). Each ratio is one IEEE
    * division of exact longs.
    *
    * Scale shape: the gram frame is per-source DISTINCT, so the
    * gram-keyed self-join's candidate count is Σ_g df(g)² with
    * df ≤ #domains — bounded by the DOMAIN count, not the corpus;
    * output is #domains² rows. The vocab build is the usual
    * scan-stage explode (spread first) + hash distinct. */
  private val txDomainOverlap = Q(
    "tx_domain_overlap",
    Some(s"""WITH t AS (SELECT source, $toksSql AS toks FROM documents),
          g AS (SELECT DISTINCT source, unnest(${ngramsOf("toks", 3)}) AS gram FROM t),
          sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
          ov AS (SELECT a.source AS src_a, b.source AS src_b,
              CAST(count(*) AS BIGINT) AS n_shared
            FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
            GROUP BY a.source, b.source)
          SELECT sa.source AS src_a, sb.source AS src_b,
            sa.n AS n_a, sb.n AS n_b,
            CAST(coalesce(ov.n_shared, 0) AS BIGINT) AS n_shared,
            CAST(coalesce(ov.n_shared, 0) AS DOUBLE)
              / (sa.n + sb.n - coalesce(ov.n_shared, 0)) AS jaccard,
            CAST(coalesce(ov.n_shared, 0) AS DOUBLE)
              / least(sa.n, sb.n) AS containment
          FROM sz sa JOIN sz sb ON sa.source < sb.source
          LEFT JOIN ov ON ov.src_a = sa.source AND ov.src_b = sb.source
          ORDER BY src_a, src_b"""),
    (s, dir) => {
      val d = t(s, dir, "documents")
      // persist: the vocab frame feeds THREE scans (the size aggregate
      // and both sides of the gram self-join), and the broadcast build
      // side cannot reuse the shuffle exchange — unpersisted, the
      // corpus-wide explode+distinct ran three times per action
      // (measured: paired 4-7 CPU-s Generate stages per run, r15).
      // Vocab-sized, recomputable — the PMI persist recipe.
      val g = graft.core.Tables.spread(
          d.select(col("source"), col("text")), col("source"))
        .select(col("source"), explode(Text.wordNgrams(col("text"), 3)).as("gram"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sz = g.groupBy("source").agg(count(lit(1)).as("n"))
      val ov = g.select(col("source").as("src_a"), col("gram"))
        .join(g.select(col("source").as("src_b"), col("gram")), Seq("gram"))
        .where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      // domain-count-sized pair spine (#domains² rows): broadcast
      // inequality join — the dimension side is tiny by definition
      val base = sz.select(col("source").as("src_a"), col("n").as("n_a"))
        .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))),
          col("src_a") < col("src_b"))
      base.join(ov, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .withColumn("jaccard",
          col("n_shared").cast(org.apache.spark.sql.types.DoubleType)
            / (col("n_a") + col("n_b") - col("n_shared")))
        .withColumn("containment",
          col("n_shared").cast(org.apache.spark.sql.types.DoubleType)
            / least(col("n_a"), col("n_b")))
        .orderBy("src_a", "src_b")
    })

  /** Shared SimHash-signature CTE chain (`sig(doc_id, simhash)`):
    * per-bit ±1 sums over the md5_number_lower token hashes, sign
    * bits, two's-complement bit 63 — the exact SQL twin of
    * [[graft.functions.Expressions.SimHash64]]. */
  private def simhashSigCtes: String = {
    def bitSum(b: Int) =
      s"""list_sum(list_transform(hs, v -> CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END))"""
    val lowBits = (0 until 63)
      .map(b => s"(CASE WHEN ${bitSum(b)} > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""simt AS (SELECT doc_id,
          list_filter(regexp_split_to_array(lower(text), '\\s+'),
            x -> length(x) > 0) AS toks FROM documents),
        simh AS (SELECT doc_id,
          list_transform(toks, x -> md5_number_lower(x)) AS hs FROM simt),
        sig AS (SELECT doc_id,
          (CASE WHEN ${bitSum(63)} > 0 THEN -9223372036854775808 ELSE 0 END)
            + $lowBits AS simhash
          FROM simh)"""
  }

  /** SimHash signatures. The token hash is md5_number_lower's 64
    * bits, so the full signature — per-bit ±1 sums over the token
    * multiset, sign bits, two's-complement bit 63 — is reproduced
    * exactly in SQL (was rows-only in r01). DedupSpec keeps the
    * hamming-locality check. */
  private val ddSimhash = Q(
    "dd_simhash",
    Some(s"""WITH $simhashSigCtes
          SELECT doc_id, simhash FROM sig ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.simhash64(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))

  /** X-DD21: SimHash hamming-radius near-dup pairs by pigeonhole
    * block join (the Manku '07 web-dedup shape): 4 × 16-bit blocks,
    * radius 3 ⇒ some block matches exactly, so candidates come from
    * the (block, value) equi-join — collision-bounded like the
    * MinHash band join, never all-pairs — then popcount(xor) ≤ 3
    * verifies exactly. Complements MinHash: one 64-bit signature per
    * doc instead of a shingle-set signature. */
  private val ddSimhashHam = Q(
    "dd_simhash_ham",
    Some(s"""WITH $simhashSigCtes,
          blocks AS (SELECT doc_id, simhash, blk,
              (simhash >> (16 * blk)) & 65535 AS key
            FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS bi(blk)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
              x.simhash AS ha, y.simhash AS hb
            FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.key = y.key
            WHERE x.doc_id < y.doc_id)
          SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
          FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY a, b"""),
    (s, dir) =>
      Dedup.simhashHamPairs(t(s, dir, "documents"), "doc_id", "text", radius = 3)
        .orderBy("a", "b"))

  /** X-TX26: BPE first-merge candidates — adjacent character-pair
    * frequencies WITHIN tokens (pairs never cross token boundaries),
    * top-20 by count with pair tie-break: the statistic the first
    * iteration of byte-pair-encoding training merges on. Exact
    * integer counts, distributed count + TakeOrdered. */
  private val txBpePairs = Q(
    "tx_bpe_pairs",
    Some(s"""WITH t AS (SELECT list_filter($toksSql, x -> length(x) >= 2)
              AS toks FROM documents),
            p AS (SELECT unnest(flatten(list_transform(toks, x ->
                list_transform(range(1, length(x)),
                  i -> substr(x, CAST(i AS INT), 2))))) AS pair FROM t)
            SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair
            ORDER BY n DESC, pair LIMIT 20"""),
    (s, dir) =>
      // spread-by-id before the tokenizer + pair explode (r16): the two
      // chained Generates otherwise run inside the single-task scan
      // stage with NOTHING to overlap with (one 0.55-0.65 s single-task
      // stage per run = ~90% of the query; unlike the multi-consumer
      // text operators, there is no concurrent twin stage to hide it
      // behind — see OPTIMIZATION_r16.md on the reverted family-wide
      // spread). The pair aggregate is map-side-combinable over a
      // bounded char-pair key space, so the post-spread exchange
      // carries almost nothing. Interleaved A/B: 0.65 -> 0.50-0.56 s.
      graft.core.Tables.spread(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(explode(filter(Text.tokens(col("text")),
          x => length(x) >= 2)).as("tok"))
        .select(explode(transform(sequence(lit(1), length(col("tok")) - 1),
          i => col("tok").substr(i, lit(2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20))

  /** X-M14: trained logistic-regression quality classifier — the
    * fastText-style quality model, trained by Newton/IRLS on a
    * binned feature grid ([[graft.ml.LogReg]]): labels from the
    * fused linear quality score (bit-exact rational math), features
    * (type-token ratio, saturating length) quantized to 16 bins,
    * eval on the held-out LCG split. Output: dense 2×2 confusion
    * matrix. Unrolled-iteration SQL oracle mirrors every Newton
    * step (quantized sigmoid, decimal moment sums, Cramer solve). */
  // shared by the LR and boosted-stump trainers: the fused linear
  // quality label and its toks/g3 source CTEs — one copy so the two
  // models train on provably identical labels
  private val lrZSql = s"""-2.0 + 3.0 * ($qualityInlineSql2)
              + 1.5 * (len(list_distinct(toks)) / len(toks))
              - 2.0 * ((len(g3) - len(list_distinct(g3))) / len(g3))
              + 0.5 * least(1.0, len(toks) / 200.0)"""
  private val lrSrcCtes =
    s"""t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
        zsrc AS (SELECT doc_id, text, toks, ${ngramsOf("toks", 3)} AS g3 FROM t)"""

  private val txLrQuality = Q(
    "tx_lr_quality",
    Some(graft.ml.LogReg.lrQualitySql(
      srcCtes = lrSrcCtes, zSql = lrZSql, iters = 4)),
    (s, dir) =>
      graft.ml.LogReg.lrQualityEval(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("label", "label_pred"))

  /** X-M17: trained gradient-boosted decision stumps (histogram
    * L2Boost, [[graft.ml.Boost]]) on the same binned features and
    * fused-linear label as tx_lr_quality — the TREE member of the
    * trained-model family. Training is driver arithmetic on the
    * bounded ≤16² grid (no per-round Spark job); the fitted ensemble
    * is inlined into the generated oracle as literals and the SQL
    * twin independently recomputes features, labels, split
    * membership and the fixed-order score chain (the m8_kmeans
    * mechanism). */
  private val m18Boost = Q(
    "m18_boost_stumps",
    None,
    (s, dir) =>
      graft.ml.Boost.boostQualityEval(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("label", "label_pred"),
    sqlGen = Some { (s, dir) =>
      val model = graft.ml.Boost.trainOnDocs(
        t(s, dir, "documents"), "doc_id", "text")
      graft.ml.Boost.boostQualitySql(lrSrcCtes, lrZSql, model)
    })

  /** X-M18: isotonic calibration (PAVA) of the trained boosted-stump
    * scorer ([[graft.ml.Isotonic]]) — train on the train split, bin
    * HELD-OUT ensemble scores, fit the monotone label-rate step
    * function with exact integer PAVA (long-rational pooling,
    * cross-multiplied comparisons — no floating point in the fit).
    * Model weights AND fitted rates are literal-inlined into the
    * generated oracle; features, scores, bins, grid and raw rates
    * are recomputed independently by the SQL twin. */
  private val m19Isotonic = Q(
    "m19_isotonic",
    None,
    (s, dir) =>
      graft.ml.Isotonic.calibrationEval(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("bin"),
    sqlGen = Some { (s, dir) =>
      val (model, fit) = graft.ml.Isotonic.calibrationFit(
        t(s, dir, "documents"), "doc_id", "text")
      graft.ml.Isotonic.calibrationSql(lrSrcCtes, lrZSql, model, fit)
    })

  /** X-TX28: full BPE tokenizer training — `merges` rounds of
    * pair-count → global-argmax merge → greedy left-to-right rewrite
    * (Sennrich '16), on the distinct-token vocabulary with corpus
    * frequencies ([[Text.bpeTrain]]). tx_bpe_pairs is this loop's
    * first iteration's statistic; here the merge table itself is the
    * trained artifact. Unrolled-round SQL oracle (the
    * labelPropagationSql discipline): integer counts, (n DESC, l, r)
    * ties, replace-based non-overlapping rewrite in both engines. */
  private val txBpeTrain = Q(
    "tx_bpe_train",
    Some(Text.bpeTrainSql(toksSql, merges = 5)),
    (s, dir) =>
      Text.bpeTrain(t(s, dir, "documents"), "text", merges = 5)
        .orderBy("merge_rank"))

  /** X-TX29: BPE tokenization APPLY — encode every document with the
    * [[txBpeTrain]] model: whitespace-token count, BPE symbol count
    * after the 5 merges, chars-per-BPE-token compression. Apply is
    * ONE equi-join of the doc token stream onto the vocab-sized
    * (tok, n_symbols) table (broadcast at scale; the per-word merge
    * loop ran once, at train time). Completes the train→apply pair. */
  private val txBpeApply = Q(
    "tx_bpe_apply",
    Some(Text.bpeApplySql(toksSql, merges = 5)),
    (s, dir) =>
      Text.bpeApply(t(s, dir, "documents"), "doc_id", "text", merges = 5)
        .orderBy("doc_id"))

  /** X-TX22: character-level Shannon entropy (nats) — the gibberish/
    * boilerplate quality signal. Per-char ln values are 1e-6
    * floor-quantized so the entropy is exact-integer math + one IEEE
    * division in BOTH engines; the Spark side is one compiled
    * scan-stage expression ([[graft.functions.Expressions.CharEntropy]]),
    * the oracle a per-character group-by. */
  private val txEntropy = Q(
    "tx_entropy",
    Some("""WITH ch AS (SELECT doc_id,
              unnest(list_transform(range(1, length(text) + 1),
                i -> substr(text, CAST(i AS INT), 1))) AS c FROM documents),
            cc AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
            ag AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
                CAST(sum(k * CAST(floor(ln(CAST(k AS DOUBLE)) * 1e6 + 0.5)
                  AS BIGINT)) AS BIGINT) AS slk
              FROM cc GROUP BY doc_id),
            ent AS (SELECT doc_id, n,
              CAST(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
                   - slk AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6) AS entropy
            FROM ag)
            -- LEFT JOIN back so an empty document still yields a row
            -- (n_chars=0, entropy=0.0) — parity with the Spark side,
            -- whose CharEntropy returns 0.0 for the empty string
            SELECT d.doc_id, CAST(coalesce(e.n, 0) AS BIGINT) AS n_chars,
              coalesce(e.entropy, 0.0) AS entropy
            FROM documents d LEFT JOIN ent e ON d.doc_id = e.doc_id
            ORDER BY d.doc_id"""),
    (s, dir) =>
      t(s, dir, "documents").select(
          col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          Text.charEntropy(col("text")).as("entropy"))
        .orderBy("doc_id"))

  /** X-TX23: token-budget mixing — admit docs per source until a
    * fixed TOKEN budget is spent, sharded so no domain serializes
    * onto one window partition (see [[Text.tokenBudgetMix]]). Budget
    * is corpus-size-independent (the realistic contract: you mix to
    * a token target, not to a fraction). */
  private val tokenBudgetSql =
    s"""WITH s AS (SELECT doc_id, source, len($toksSql) AS n_toks,
           ${Text.sampleBucketSql("doc_id")} AS bucket FROM documents),
        w AS (SELECT *, bucket % 4 AS shard,
            CAST(sum(n_toks) OVER (PARTITION BY source, bucket % 4
              ORDER BY bucket, doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum
          FROM s)
        SELECT source, doc_id, n_toks FROM w WHERE cum <= 200
        ORDER BY source, doc_id"""

  private val txTokenBudget = Q(
    "tx_token_budget_mix",
    Some(tokenBudgetSql),
    (s, dir) =>
      Text.tokenBudgetMix(t(s, dir, "documents"), "doc_id", "text", "source",
          budgetPerDomain = 800, nShards = 4)
        .orderBy("source", "doc_id"))

  /** X-ST11: STATEFUL-STREAMING token-budget admission — the
    * [[txTokenBudget]] semantics as documents arrive, per-(domain,
    * shard) spent totals in `flatMapGroupsWithState` state. The
    * registry entry runs the same state function on the static frame
    * (one invocation per key == the batch global-prefix cut) and
    * shares the batch oracle VERBATIM; StatefulStreamsSpec drives the
    * real multi-micro-batch engine with bucket-ordered files and
    * asserts stream == batch. */
  private val stTokenBudget = Q(
    "st_token_budget",
    Some(tokenBudgetSql),
    (s, dir) =>
      graft.streaming.Streams.tokenBudgetStream(
          t(s, dir, "documents"), budgetPerDomain = 800, nShards = 4)
        .orderBy("source", "doc_id"))

  /** X-TX24: hashing-trick TF featurization — every doc becomes an
    * L2-normalized 64-dim hashed bag-of-words vector (the model-free
    * embedding that feeds the vector stack), emitted sparse as
    * (doc_id, dim, weight). One compiled scan-stage pass
    * ([[graft.functions.Expressions.HashedTf]]); the oracle rebuilds
    * the counts list per bucket and mirrors the index-ascending norm.
    * Weights floor-quantized at 1e-6 on emission (round() dialects
    * differ; floor is bit-identical). */
  private val txHashingTf = Q(
    "tx_hashing_tf",
    Some(s"""WITH tb AS (SELECT doc_id, ${tokenBucketsSql(64)} AS bks
              FROM documents),
            c AS (SELECT doc_id, list_transform(range(0, 64),
                b -> CAST(len(list_filter(bks, x -> x = b)) AS DOUBLE)) AS cnts
              FROM tb),
            n AS (SELECT doc_id, cnts,
                sqrt(list_sum(list_transform(cnts, x -> x * x))) AS nrm
              FROM c),
            e AS (SELECT doc_id, CAST(t.b AS INT) AS dim,
                cnts[CAST(t.b AS INT) + 1] / nrm AS w
              FROM n, range(64) AS t(b) WHERE nrm > 0)
            SELECT doc_id, dim, floor(w * 1e6 + 0.5) / 1e6 AS weight
            FROM e WHERE w > 0 ORDER BY doc_id, dim"""),
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(Text.hashedTf(col("text"), 64)).as(Seq("dim", "w")))
        .where(col("w") > 0)
        .select(col("doc_id"), col("dim"),
          (floor(col("w") * 1e6 + 0.5) / 1e6).as("weight"))
        .orderBy("doc_id", "dim"))

  /** X-TX25: TRAINED multinomial Naive Bayes language classifier with
    * a held-out split — train (LCG bucket ≥ 200‰), predict on the
    * rest, report the confusion matrix. Hashed-unigram features; all
    * smoothed log-probabilities quantized once to micro-longs so
    * document scores are INTEGER sums (no float argmax hazard); the
    * (langs × 256)-row model broadcasts. Upgrades the tx_langid
    * stopword heuristic to an actually trained in-engine model.
    * NOTE on this corpus: the synthetic lang label is INDEPENDENT of
    * the text (all langs share one vocabulary), so the trained model
    * correctly collapses to the majority prior — the confusion
    * matrix shows every test doc predicted 'en'. That IS the right
    * Bayes answer here; DsirSimhashHamSpec proves a perfect diagonal
    * on a corpus whose vocabularies actually separate. */
  private val txNbLangid = Q(
    "tx_nb_langid",
    Some {
      val bks = tokenBucketsSql(256)
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents
            WHERE ${Text.sampleBucketSql("doc_id")} >= 200),
          te AS (SELECT doc_id, lang, text FROM documents
            WHERE ${Text.sampleBucketSql("doc_id")} < 200),
          langs AS (SELECT DISTINCT lang AS clang FROM tr),
          ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
          lc AS (SELECT CAST(count(*) AS BIGINT) AS L FROM langs),
          prior AS (SELECT lang AS clang,
              CAST(floor(ln((count(*) + 1.0) / (ntr.n + lc.L)) * 1e6 + 0.5)
                AS BIGINT) AS prm
            FROM tr CROSS JOIN ntr CROSS JOIN lc
            GROUP BY lang, ntr.n, lc.L),
          tt AS (SELECT lang AS clang, unnest($bks) AS bkt FROM tr),
          ct AS (SELECT clang, bkt, CAST(count(*) AS BIGINT) AS c
            FROM tt GROUP BY clang, bkt),
          tl AS (SELECT clang, CAST(count(*) AS BIGINT) AS tot
            FROM tt GROUP BY clang),
          dense AS (SELECT l.clang, CAST(b.range AS INT) AS bkt,
              coalesce(ct.c, 0) AS c, tl.tot
            FROM langs l CROSS JOIN range(256) b
            JOIN tl ON tl.clang = l.clang
            LEFT JOIN ct ON ct.clang = l.clang AND ct.bkt = CAST(b.range AS INT)),
          lp AS (SELECT clang, bkt,
              CAST(floor(ln((c + 1.0) / (tot + 256.0)) * 1e6 + 0.5) AS BIGINT)
                AS lpm
            FROM dense),
          teb AS (SELECT doc_id, lang, unnest($bks) AS bkt FROM te),
          sc AS (SELECT teb.doc_id, teb.lang, lp.clang,
              CAST(sum(lp.lpm) AS BIGINT) AS s
            FROM teb JOIN lp ON lp.bkt = teb.bkt
            GROUP BY teb.doc_id, teb.lang, lp.clang),
          tot AS (SELECT sc.doc_id, sc.lang, sc.clang, sc.s + prior.prm AS score
            FROM sc JOIN prior ON prior.clang = sc.clang),
          pred AS (SELECT doc_id, lang, clang AS lang_pred,
              ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY score DESC, clang) AS rn FROM tot)
          SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
          FROM pred WHERE rn = 1 GROUP BY lang, lang_pred
          ORDER BY lang, lang_pred"""
    },
    (s, dir) =>
      Text.nbLangIdEval(t(s, dir, "documents"), "doc_id", "text", "lang",
          nBuckets = 256, testBelowPerMille = 200)
        .orderBy("lang", "lang_pred"))

  /** SQL twin of [[graft.functions.Expressions.TokenBuckets]]:
    * hashed-unigram bucket per token instance over `textExpr`. */
  private def tokenBucketsSql(nBuckets: Int, textExpr: String = "text"): String =
    s"""list_transform(
         list_filter(regexp_split_to_array(lower($textExpr), '\\s+'),
           x -> length(x) > 0),
         x -> CAST(list_reduce(list_transform(range(1, length(x) + 1),
                i -> CAST(unicode(x[CAST(i AS INT)]) AS BIGINT)),
                (a, b) -> (a * 31 + b) % 1000000007) % $nBuckets AS INT))"""

  /** X-TX21: DSIR importance resampling (Xie et al. '23) — select the
    * 200 raw documents whose hashed-unigram distribution best matches
    * the target domain (here: the labeled-'en' subset), by add-1-
    * smoothed log-likelihood ratio. Bucket log-ratios are quantized
    * once to exact micro-longs (the bigram-LM ln recipe), so doc
    * weights are integer sums and the top-N cut is bit-stable; the
    * 256-row ratio table broadcasts, the doc pass is one doc-keyed
    * shuffle + TakeOrdered (see [[Text.dsirWeights]]). */
  private val txDsir = Q(
    "tx_dsir",
    Some {
      val bucketsExpr = tokenBucketsSql(256)
      s"""WITH tb AS (SELECT doc_id, lang, unnest($bucketsExpr) AS bkt
            FROM documents),
          bc AS (SELECT bkt, count(*) AS cr,
              CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS ct
            FROM tb GROUP BY bkt),
          tot AS (SELECT CAST(sum(cr) AS BIGINT) AS tr,
              CAST(sum(ct) AS BIGINT) AS tt FROM bc),
          lr AS (SELECT bkt,
              CAST(floor((ln((ct + 1.0) / (tt + 256.0))
                        - ln((cr + 1.0) / (tr + 256.0))) * 1e6 + 0.5)
                AS BIGINT) AS lrm
            FROM bc CROSS JOIN tot),
          dw AS (SELECT tb.doc_id, tb.lang, count(*) AS n_toks,
              CAST(sum(lr.lrm) AS BIGINT) AS wm
            FROM tb JOIN lr USING (bkt) GROUP BY tb.doc_id, tb.lang)
          SELECT doc_id, lang, n_toks, CAST(wm AS DOUBLE) / 1e6 AS weight
          FROM dw ORDER BY wm DESC, doc_id LIMIT 200"""
    },
    (s, dir) =>
      Text.dsirWeights(t(s, dir, "documents"), "doc_id", "text", "lang", "en",
          nBuckets = 256, topN = 200)
        .orderBy(col("weight").desc, col("doc_id")))

  /** Embedding-cosine near-dup pairs, blocked by label (no global
    * n² compare). */
  private val ddEmbcos = Q(
    "dd_embcos_neardup",
    Some("""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
            p AS (SELECT a.vec_id AS a, b.vec_id AS b,
              round(
                list_sum(list_transform(range(1, 65),
                  i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                     * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                       * CAST(a.embedding[CAST(i AS INT)] AS DOUBLE))))
                 * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)
                       * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)))))
              , 6) AS cosine
              FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
            SELECT a, b, cosine FROM p WHERE cosine >= 0.4 ORDER BY a, b"""),
    (s, dir) =>
      Vectors.cosineNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", threshold = 0.4)
        .orderBy("a", "b"))

  /** Brute-force cosine top-k (the ANN baseline): every 20th vector
    * queries the full corpus. */
  private val ssTopk = Q(
    "ss_topk_bruteforce",
    Some("""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
              WHERE vec_id % 20 = 0),
            c AS (SELECT vec_id, embedding AS cv FROM embeddings),
            scored AS (SELECT q.query_id, c.vec_id,
              round(
                list_sum(list_transform(range(1, 65),
                  i -> CAST(q.qv[CAST(i AS INT)] AS DOUBLE)
                     * CAST(c.cv[CAST(i AS INT)] AS DOUBLE)))
                / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(q.qv[CAST(i AS INT)] AS DOUBLE)
                       * CAST(q.qv[CAST(i AS INT)] AS DOUBLE))))
                 * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(c.cv[CAST(i AS INT)] AS DOUBLE)
                       * CAST(c.cv[CAST(i AS INT)] AS DOUBLE)))))
              , 6) AS cosine
              FROM q, c WHERE q.query_id != c.vec_id),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, vec_id) AS rn FROM scored)
            SELECT query_id, vec_id, cosine FROM r WHERE rn <= 3
            ORDER BY query_id, cosine DESC, vec_id"""),
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      Vectors.bruteForceTopK(q, "query_id", "qv", e, "vec_id", "embedding", k = 3)
        .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
    })

  /** Auto-scaled hyperplane count for the embeddings table, from
    * parquet FOOTER row counts (driver-side metadata, no Spark job) —
    * shared by every embeddings-LSH query fn AND its generated
    * oracle, so plane parity holds by construction. Pinned planes
    * (the r01–r12 registry shape, planes=6) measured honest k=16
    * ratios of 10–14 on the embcos family: fixed bucket count ⇒
    * occupancy ∝ corpus ⇒ within-bucket candidate pairs quadratic.
    * planesFor keeps occupancy O(bucketTarget) at any corpus size. */
  private def embPlanes(s: SparkSession, dir: String): Int =
    Vectors.planesFor(
      graft.core.Tables.parquetRowCount(s, dir, "embeddings"), 16)

  /** [[embPlanes]] at the NSW bucket target ([[Vectors.Nsw]]), for
    * the graph index's INIT tables and its generated oracle. */
  private def nswPlanes(s: SparkSession, dir: String): Int =
    Vectors.planesFor(
      graft.core.Tables.parquetRowCount(s, dir, "embeddings"), Vectors.Nsw.BucketTarget)

  /** Auto-scaled IVF coarse-cell count for the embeddings table
    * (nlist ≈ √n from footer row counts — [[Vectors.cellsFor]]);
    * shared by the IVF/IVF-PQ query fns and their generated oracles
    * (which inline whatever centroids the shared trainer returns, so
    * cell-count parity is automatic). The r01–r12 pinned nlist=8
    * measured an honest k=16 ratio of 15.3 on ss_topk_ivf. */
  private def embCells(s: SparkSession, dir: String): Int =
    Vectors.cellsFor(graft.core.Tables.parquetRowCount(s, dir, "embeddings"))

  /** Cosine-similarity SQL snippet shared by the ANN oracles. */
  private def cosSql(a: String, b: String): String =
    s"""round(
         list_sum(list_transform(range(1, 65),
           i -> CAST($a[CAST(i AS INT)] AS DOUBLE)
              * CAST($b[CAST(i AS INT)] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST($a[CAST(i AS INT)] AS DOUBLE)
                * CAST($a[CAST(i AS INT)] AS DOUBLE))))
          * sqrt(list_sum(list_transform(range(1, 65),
             i -> CAST($b[CAST(i AS INT)] AS DOUBLE)
                * CAST($b[CAST(i AS INT)] AS DOUBLE)))))
       , 6)"""

  /** SQL for the LSH-keyed embeddings rows: the same ±1 hyperplane
    * weights LshTableKeys derives (MurmurHash3 of (t,p,d)), inlined
    * as literal arrays so the whole bucketing is oracle-exact.
    * Shared by ss_topk_lsh and dd_embcos_lsh. */
  private def lshKeyedRowsSql(planes: Int, tables: Int, dim: Int): String = {
    def w(tb: Int, p: Int, d: Int): String =
      if (scala.util.hashing.MurmurHash3.productHash((tb, p, d)) % 2 == 0) "1.0" else "-1.0"
    def keyExpr(tb: Int): String =
      (0 until planes).map { p =>
        val arr = (0 until dim).map(d => w(tb, p, d)).mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
            d -> CAST(embedding[CAST(d AS INT)] AS DOUBLE)
               * ($arr)[CAST(d AS INT)])) > 0
            THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
    (0 until tables)
      .map(tb => s"SELECT vec_id, embedding, $tb AS tbl, ${keyExpr(tb)} AS key FROM embeddings")
      .mkString("\nUNION ALL\n")
  }

  /** Augmented-key CTE rows for the MIPS oracle (expects CTEs
    * `n(vec_id, embedding, n2)` and `m(m2)` upstream): per table,
    * BOTH the candidate key (65th coordinate sqrt(m2−n2) · w) and
    * the query key (65th coordinate 0 — the term vanishes under
    * IEEE ±0 addition, so it is omitted). */
  private def mipsKeyedRowsSql(planes: Int, tables: Int, dim: Int): String = {
    def w(tb: Int, p: Int, d: Int): String =
      if (scala.util.hashing.MurmurHash3.productHash((tb, p, d)) % 2 == 0) "1.0" else "-1.0"
    def base(tb: Int, p: Int): String = {
      val arr = (0 until dim).map(d => w(tb, p, d)).mkString("[", ", ", "]")
      s"""list_sum(list_transform(range(1, ${dim + 1}),
          d -> CAST(embedding[CAST(d AS INT)] AS DOUBLE)
             * ($arr)[CAST(d AS INT)]))"""
    }
    def ckey(tb: Int): String =
      (0 until planes).map { p =>
        s"""(CASE WHEN ${base(tb, p)} + sqrt(m2 - n2) * ${w(tb, p, dim)} > 0
            THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
    def qkey(tb: Int): String =
      (0 until planes).map { p =>
        s"""(CASE WHEN ${base(tb, p)} > 0 THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
    (0 until tables)
      .map(tb => s"""SELECT vec_id, embedding, $tb AS tbl,
          ${ckey(tb)} AS ckey, ${qkey(tb)} AS qkey FROM n CROSS JOIN m""")
      .mkString("\nUNION ALL\n")
  }

  /** Shared MIPS oracle body at a given plane count. */
  private def mipsSql(planes: Int): String = {
    val keyedRows = mipsKeyedRowsSql(planes, tables = 8, dim = 64)
    s"""WITH n AS (SELECT vec_id, embedding,
            list_sum(list_transform(range(1, 65),
              i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                 * CAST(embedding[CAST(i AS INT)] AS DOUBLE))) AS n2
          FROM embeddings),
          m AS (SELECT max(n2) AS m2 FROM n),
          keyed AS ($keyedRows),
          cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
              a.embedding AS qv, b.embedding AS cv
            FROM keyed a JOIN keyed b ON a.tbl = b.tbl AND a.qkey = b.ckey
            WHERE a.vec_id != b.vec_id),
          scored AS (SELECT DISTINCT qid, cid,
              round(list_sum(list_transform(range(1, 65),
                i -> CAST(qv[CAST(i AS INT)] AS DOUBLE)
                   * CAST(cv[CAST(i AS INT)] AS DOUBLE))), 6) AS dot
            FROM cand),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY dot DESC, cid) AS rn FROM scored)
          SELECT qid, cid, dot FROM r WHERE rn <= 3
          ORDER BY qid, dot DESC, cid"""
  }

  /** X-SS10: MIPS top-k via the norm-augmentation reduction (append
    * sqrt(M²−‖c‖²) to candidates, 0 to queries; cosine order in the
    * augmented space = inner-product order) — recommendation-style
    * retrieval where magnitude matters, on the same hyperplane-LSH
    * scale path as ss_topk_lsh. M² is computed IN-PLAN both sides
    * (one scalar aggregate / CTE — no generated literals). */
  private val ssMips = Q(
    "ss_mips_topk",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // planes auto-scale with the corpus (O(1) bucket occupancy —
      // the lshTopK scale rule) from the parquet FOOTER count
      // (driver-side metadata, no Spark job): the generated oracle
      // uses the SAME plane count
      Vectors.mipsTopK(e, "vec_id", "embedding",
          dim = 64, k = 3, planes = embPlanes(s, dir), tables = 8)
        .orderBy(col("qid"), col("dot").desc, col("cid"))
    },
    sqlGen = Some { (s, dir) => mipsSql(embPlanes(s, dir)) })

  /** Hyperplane-key CTE rows over an arbitrary source CTE whose
    * `vec` column is ALREADY a DOUBLE list (the hashed-TF pipelines)
    * — generalizes [[lshKeyedRowsSql]], which is bound to the
    * embeddings table's FLOAT column. */
  private def lshKeysSqlFrom(src: String, selectCols: String,
                             planes: Int, tables: Int, dim: Int): String = {
    def w(tb: Int, p: Int, d: Int): String =
      if (scala.util.hashing.MurmurHash3.productHash((tb, p, d)) % 2 == 0) "1.0" else "-1.0"
    def keyExpr(tb: Int): String =
      (0 until planes).map { p =>
        val arr = (0 until dim).map(d => w(tb, p, d)).mkString("[", ", ", "]")
        s"""(CASE WHEN list_sum(list_transform(range(1, ${dim + 1}),
            d -> vec[CAST(d AS INT)] * ($arr)[CAST(d AS INT)])) > 0
            THEN ${1L << p} ELSE 0 END)"""
      }.mkString(" + ")
    (0 until tables)
      .map(tb => s"SELECT $selectCols, vec, $tb AS tbl, ${keyExpr(tb)} AS key FROM $src")
      .mkString("\nUNION ALL\n")
  }

  /** L2-normalized hashed-TF vector CTE chain over `(idCols, bks)`
    * rows — the SQL twin of [[graft.functions.Expressions.HashedTf]]
    * (counts list per bucket, index-ascending norm, elementwise
    * divide; zero vector stays zero). */
  private def hashedTfVecSql(srcCte: String, idCols: String): String =
    s"""SELECT $idCols,
          CASE WHEN nrm > 0 THEN list_transform(cnts, x -> x / nrm)
               ELSE cnts END AS vec
        FROM (SELECT $idCols, cnts,
            sqrt(list_sum(list_transform(cnts, x -> x * x))) AS nrm
          FROM (SELECT $idCols, list_transform(range(0, 64),
              b -> CAST(len(list_filter(bks, x -> x = b)) AS DOUBLE)) AS cnts
            FROM $srcCte))"""

  /** Shared ep8 oracle body at a given plane count. */
  private def ep8Sql(planes: Int): String = {
      val chunkBks = tokenBucketsSql(64, "chunk_text")
      val docBks = tokenBucketsSql(64)
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          ch AS (SELECT doc_id AS cdoc, CAST(start // 48 AS BIGINT) AS chunk_idx,
              array_to_string(list_slice(toks, start + 1,
                least(start + 64, len(toks))), ' ') AS chunk_text
            FROM (SELECT doc_id, unnest(range(0, greatest(len(toks), 1), 48))
                AS start, toks FROM t)),
          cb AS (SELECT cdoc, chunk_idx, $chunkBks AS bks FROM ch),
          cvec AS (${hashedTfVecSql("cb", "cdoc, chunk_idx")}),
          qb AS (SELECT doc_id AS qid, $docBks AS bks FROM documents
            WHERE doc_id % 25 = 0),
          qvec AS (${hashedTfVecSql("qb", "qid")}),
          ck AS (${lshKeysSqlFrom("cvec", "cdoc, chunk_idx", planes, 8, 64)}),
          qk AS (${lshKeysSqlFrom("qvec", "qid", planes, 8, 64)}),
          cand AS (SELECT DISTINCT q.qid, c.cdoc, c.chunk_idx,
              q.vec AS qv, c.vec AS cv
            FROM qk q JOIN ck c ON q.tbl = c.tbl AND q.key = c.key
            WHERE c.cdoc != q.qid),
          scored AS (SELECT DISTINCT qid, cdoc, chunk_idx,
              round(list_sum(list_transform(range(1, 65),
                  i -> qv[CAST(i AS INT)] * cv[CAST(i AS INT)]))
                / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> qv[CAST(i AS INT)] * qv[CAST(i AS INT)])))
                 * sqrt(list_sum(list_transform(range(1, 65),
                    i -> cv[CAST(i AS INT)] * cv[CAST(i AS INT)])))), 6)
                AS cosine
            FROM cand),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cosine DESC, cdoc, chunk_idx) AS rn FROM scored)
          SELECT qid, cdoc, chunk_idx, cosine FROM r WHERE rn <= 3
          ORDER BY qid, cosine DESC, cdoc, chunk_idx"""
  }

  /** The ep8 chunk index frame (shared by the query fn and the
    * oracle generator). */
  private def ep8Chunks(s: SparkSession, dir: String): DataFrame =
    Text.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        window = 64, stride = 48)
      .select(col("doc_id").as("cdoc"), col("chunk_idx"),
        Text.hashedTf(col("chunk_text"), 64).as("cv"))

  /** Auto-scaled planes for the ep8 chunk index, from a chunk-count
    * estimate derived WITHOUT a Spark job: each doc yields
    * ceil(max(nToks,1)/stride) chunks, so
    * total chunks ≈ docCount (the per-doc partial window) + total
    * tokens / stride. Both terms come from parquet FOOTERS — row
    * count plus the text column's uncompressed byte size (÷ ~6
    * bytes/token) — so the estimate scales with CONTENT volume: corpus
    * growth from LONGER docs grows it too (ADVICE r12: the old
    * rowCount×window/stride hint was doc-length-blind and
    * under-provisioned planes). planesFor is log2-scaled, so an
    * order-of-magnitude-correct estimate gives the same plane count
    * as the exact chunk count; the query fn and the oracle generator
    * both read these planes, so Spark/oracle plane parity holds by
    * construction. */
  private def ep8Planes(s: SparkSession, dir: String): Int = {
    val docs = graft.core.Tables.parquetRowCount(s, dir, "documents")
    val textBytes =
      graft.core.Tables.parquetColumnBytes(s, dir, "documents", "text")
    Vectors.planesFor(docs + textBytes / (6L * 48L), 16)
  }

  /** X-EP8: RAG indexing + retrieval composite — documents chunk into
    * overlapping passages (tx_chunk_overlap), passages and queries
    * featurize with the model-free hashed-TF embedding
    * (tx_hashing_tf), and every 25th document retrieves its top-3
    * OTHER-document passages through shared hyperplane tables with
    * exact cosine rerank ([[Vectors.ragRetrieveTopK]]). End-to-end
    * text→vector→retrieve, every stage individually oracled
    * elsewhere; no broadcast assumption on the query side (it grows
    * with the corpus). */
  private val ep8Rag = Q(
    "ep8_rag_retrieval",
    None,
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val chunks = ep8Chunks(s, dir)
      val qs = docs.where(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("qid"), Text.hashedTf(col("text"), 64).as("qv"))
      Vectors.ragRetrieveTopK(qs, "qid", "qv", chunks, Seq("cdoc", "chunk_idx"),
          "cv", dim = 64, k = 3, planes = ep8Planes(s, dir),
          selfExcludeCol = Some("cdoc"))
        .orderBy(col("qid"), col("cosine").desc, col("cdoc"), col("chunk_idx"))
    },
    sqlGen = Some { (s, dir) =>
      ep8Sql(ep8Planes(s, dir))
    })

  /** [[lshKeyedRowsSql]] with the label column carried through — the
    * filtered-ANN oracle needs it in the candidate join key. */
  private def lshKeyedRowsSqlLabeled(planes: Int, tables: Int, dim: Int): String =
    lshKeyedRowsSql(planes, tables, dim)
      .replace("SELECT vec_id, embedding,", "SELECT vec_id, embedding, label,")

  // ----- per-method "SELECT qid, cid, cosine" ANN bodies (no ORDER
  // BY), shared by the individual top-k oracles and the multi-method
  // recall report — one source of truth per method's SQL mirror -----

  /** LSH top-k body (the ss_topk_lsh pipeline). */
  private def lshTopkSql(planes: Int, tables: Int, dim: Int, k: Int): String = {
    val tableRows = lshKeyedRowsSql(planes, tables, dim)
    s"""WITH keyed AS ($tableRows),
        cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
            a.embedding AS qv, b.embedding AS cv
          FROM keyed a JOIN keyed b ON a.tbl = b.tbl AND a.key = b.key
          WHERE a.vec_id != b.vec_id),
        scored AS (SELECT DISTINCT qid, cid,
            ${cosSql("qv", "cv")} AS cosine FROM cand),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY cosine DESC, cid) AS rn FROM scored)
        SELECT qid, cid, cosine FROM r WHERE rn <= $k"""
  }

  /** NSW graph-ANN twin ([[graft.operators.Vectors.nswTopK]]): the
    * same three bounded phases unrolled — within-bucket init pairs
    * under `initTables` literal hyperplane tables, `buildRounds`
    * NN-descent rounds (fwd ∪ rev ∪ 2-hop, top-m), beam₀ = the
    * node's own graph neighbors, `beamRounds` beam expansions, final
    * top-k. Graph/beam CTEs are MATERIALIZED: each is referenced 3×
    * by its next round and DuckDB's inlining heuristic otherwise
    * re-expands the unrolled chain exponentially (the bpeVocabCtes
    * lesson, NOTES r13). */
  private def nswTopkSql(planes: Int, initTables: Int = Vectors.Nsw.InitTables,
                         dim: Int = 64,
                         m: Int = Vectors.Nsw.M,
                         buildRounds: Int = Vectors.Nsw.BuildRounds,
                         beam: Int = Vectors.Nsw.Beam,
                         beamRounds: Int = Vectors.Nsw.BeamRounds,
                         k: Int = 3): String = {
    val tableRows = lshKeyedRowsSql(planes, initTables, dim)
    // top-`keep` per node of the deduped candidate set, exact cosine
    // (round-6, candidate-id ties) — the twin of nswTopK.rescore
    def rescore(name: String, candSql: String, keep: Int): String =
      s"""$name AS MATERIALIZED (SELECT node, cand, cosine FROM (
            SELECT node, cand, cosine, ROW_NUMBER() OVER (PARTITION BY node
                ORDER BY cosine DESC, cand) AS rn
            FROM (SELECT c.node, c.cand,
                ${cosSql("qe.embedding", "ce.embedding")} AS cosine
              FROM ($candSql) c
              JOIN embeddings qe ON qe.vec_id = c.node
              JOIN embeddings ce ON ce.vec_id = c.cand) s
          ) t WHERE rn <= $keep)"""
    val g0cand =
      """SELECT DISTINCT a.vec_id AS node, b.vec_id AS cand
         FROM keyed a JOIN keyed b ON a.tbl = b.tbl AND a.key = b.key
         WHERE a.vec_id != b.vec_id"""
    val buildCtes = (1 to buildRounds).map { i =>
      val p = s"g${i - 1}"
      rescore(s"g$i",
        s"""SELECT DISTINCT node, cand FROM (
            SELECT node, cand FROM $p
            UNION ALL SELECT cand AS node, node AS cand FROM $p
            UNION ALL SELECT x.node, y.cand FROM $p x JOIN $p y ON x.cand = y.node
          ) u WHERE node != cand""", m)
    }
    val gF = s"g$buildRounds"
    val beamCtes = (1 to beamRounds).map { j =>
      val p = if (j == 1) gF else s"bm${j - 1}"
      rescore(s"bm$j",
        s"""SELECT DISTINCT node, cand FROM (
            SELECT node, cand FROM $p
            UNION ALL SELECT b.node, g.cand FROM $p b JOIN $gF g ON g.node = b.cand
          ) u WHERE node != cand""", beam)
    }
    s"""WITH keyed AS ($tableRows),
        ${rescore("g0", g0cand, m)},
        ${buildCtes.mkString(",\n        ")},
        ${beamCtes.mkString(",\n        ")}
        SELECT node AS qid, cand AS cid, cosine FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY cosine DESC, cand) AS rn FROM bm$beamRounds) f
        WHERE rn <= $k"""
  }

  /** IVF top-k body: trained coarse centroids inlined as literals;
    * assignment/probing mirror NearestCells op-for-op. */
  private def ivfTopkSql(cents: Array[Array[Double]], nProbe: Int, k: Int): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})"
    }.mkString(",\n              ")
    val distExpr =
      """list_sum(list_transform(range(1, 65), i ->
         (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])
         * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])))"""
    s"""WITH cents AS (SELECT * FROM (VALUES
            $centRows) AS t(cell, cvec)),
        d AS (SELECT e.vec_id, e.embedding, c.cell, $distExpr AS dist
          FROM embeddings e CROSS JOIN cents c),
        ranked AS (SELECT vec_id, embedding, cell,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS crn
          FROM d),
        cand AS (SELECT vec_id AS cid, embedding AS cv, cell
          FROM ranked WHERE crn = 1),
        probe AS (SELECT vec_id AS qid, embedding AS qv, cell
          FROM ranked WHERE crn <= $nProbe),
        scored AS (SELECT qid, cid, ${cosSql("qv", "cv")} AS cosine
          FROM probe JOIN cand USING (cell) WHERE qid != cid),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, cid) AS rn FROM scored)
        SELECT qid, cid, cosine FROM r WHERE rn <= $k"""
  }

  /** IVF-PQ top-k body: coarse centroids AND all codebook rows (with
    * precomputed squared norms) inlined; encode, ADC, shortlist and
    * exact rerank mirror the Spark plan op-for-op. */
  private def ivfPqTopkSql(cents: Array[Array[Double]],
                           cbs: Array[Array[Array[Double]]],
                           nProbe: Int, k: Int, rerank: Int): String = {
    val centRows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ", ", "]")})"
    }.mkString(",\n              ")
    // norm2 emitted as a literal = the exact left-to-right sum
    // ivfPqTopK computes driver-side (not recomputed in SQL)
    val cbRows = (for {
      j <- cbs.indices
      code <- cbs(j).indices
    } yield {
      val cv = cbs(j)(code)
      var n2 = 0.0; var i = 0
      while (i < cv.length) { n2 += cv(i) * cv(i); i += 1 }
      s"($j, $code, ${cv.mkString("[", ", ", "]")}, $n2)"
    }).mkString(",\n              ")
    val coarseDist =
      """list_sum(list_transform(range(1, 65), i ->
         (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])
         * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])))"""
    val subDist =
      """list_sum(list_transform(range(1, 9), i ->
         (CAST(e.embedding[CAST(cb.j * 8 + i AS INT)] AS DOUBLE) - cb.cvec[CAST(i AS INT)])
         * (CAST(e.embedding[CAST(cb.j * 8 + i AS INT)] AS DOUBLE) - cb.cvec[CAST(i AS INT)])))"""
    val subIp =
      """list_sum(list_transform(range(1, 9), i ->
         CAST(e.embedding[CAST(cb.j * 8 + i AS INT)] AS DOUBLE) * cb.cvec[CAST(i AS INT)]))"""
    s"""WITH cents AS (SELECT * FROM (VALUES
            $centRows) AS t(cell, cvec)),
        cb AS (SELECT * FROM (VALUES
            $cbRows) AS t(j, code, cvec, n2)),
        d AS (SELECT e.vec_id, e.embedding, c.cell, $coarseDist AS dist
          FROM embeddings e CROSS JOIN cents c),
        ranked AS (SELECT vec_id, cell,
            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS crn
          FROM d),
        subd AS (SELECT e.vec_id, cb.j, cb.code, cb.n2, $subDist AS dist
          FROM embeddings e CROSS JOIN cb),
        enc0 AS (SELECT vec_id, j, code, n2,
            ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY dist, code) AS rn
          FROM subd),
        enc AS (SELECT vec_id, array_agg(code ORDER BY j) AS codes,
            list_sum(array_agg(n2 ORDER BY j)) AS cnorm2
          FROM enc0 WHERE rn = 1 GROUP BY vec_id),
        qt AS (SELECT e.vec_id AS qid, cb.j, cb.code, $subIp AS ip
          FROM embeddings e CROSS JOIN cb),
        qn AS (SELECT vec_id AS qid,
            sqrt(list_sum(list_transform(range(1, 65), i ->
              CAST(embedding[CAST(i AS INT)] AS DOUBLE)
              * CAST(embedding[CAST(i AS INT)] AS DOUBLE)))) AS qnorm
          FROM embeddings),
        cand AS (SELECT r.vec_id AS cid, r.cell, enc.codes, enc.cnorm2
          FROM ranked r JOIN enc ON enc.vec_id = r.vec_id WHERE r.crn = 1),
        probe AS (SELECT vec_id AS qid, cell FROM ranked WHERE crn <= $nProbe),
        pairs AS (SELECT p.qid, c.cid, c.codes, c.cnorm2
          FROM probe p JOIN cand c USING (cell) WHERE p.qid != c.cid),
        adc AS (SELECT pr.qid, pr.cid,
            round(list_sum(array_agg(qt.ip ORDER BY qt.j))
              / (min(qn.qnorm) * sqrt(min(pr.cnorm2))), 6) AS acos
          FROM pairs pr
            JOIN qt ON qt.qid = pr.qid AND qt.code = pr.codes[qt.j + 1]
            JOIN qn ON qn.qid = pr.qid
          GROUP BY pr.qid, pr.cid),
        short AS (SELECT qid, cid FROM (SELECT *,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY acos DESC, cid) AS srn
          FROM adc) WHERE srn <= $rerank),
        ex AS (SELECT s2.qid, s2.cid, ${cosSql("qe.embedding", "ce.embedding")} AS cosine
          FROM short s2
            JOIN embeddings qe ON qe.vec_id = s2.qid
            JOIN embeddings ce ON ce.vec_id = s2.cid),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, cid) AS rn FROM ex)
        SELECT qid, cid, cosine FROM r WHERE rn <= $k"""
  }

  /** LSH-bucketed ANN: multi-table OR-banding with corpus-scaled
    * planes, so within-bucket candidates per doc stay O(1) in corpus
    * size (VERDICT r01 #3; occupancy scaling covered by ScaleSpec).
    * Registry queries auto-scale planes from the parquet footer row
    * count ([[embPlanes]]) and GENERATE the oracle at the same count
    * (r13 — the r01–r12 pinned planes=6 measured honest k=16
    * ratios of 10–14 on this family): the ±1 hyperplane weights are
    * deterministic constants, inlined into the SQL as literal
    * arrays — bucketing, OR-dedup, scoring and ranking all
    * hash-match DuckDB (r01 left this rows-only). */
  private val ssLsh = Q(
    "ss_topk_lsh",
    None,
    (s, dir) =>
      Vectors.lshTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, k = 3, planes = embPlanes(s, dir), tables = 8)
        .orderBy(col("qid"), col("cosine").desc, col("cid")),
    sqlGen = Some { (s, dir) =>
      s"""${lshTopkSql(planes = embPlanes(s, dir), tables = 8, dim = 64, k = 3)}
          ORDER BY qid, cosine DESC, cid"""
    })

  /** X-SS7: attribute-constrained (pre-filtered) ANN — top-3 same-
    * label neighbors per vector. The label equality is composed INTO
    * the LSH candidate key (tbl, bucket, label), not applied after
    * ranking: post-filtering a global top-k under-returns for
    * selective filters, pre-filtering keeps the OR-banding recall
    * bound within each stratum (the tenant/language-scoped search
    * every production vector store ships). Oracle mirrors the planes
    * as literals and the widened join key exactly. */
  private val ssFiltered = Q(
    "ss_topk_filtered",
    None,
    (s, dir) =>
      Vectors.lshTopKFiltered(t(s, dir, "embeddings"), "vec_id", "embedding",
          "label", dim = 64, k = 3, tables = 8, planes = embPlanes(s, dir))
        .orderBy(col("qid"), col("cosine").desc, col("cid")),
    sqlGen = Some { (s, dir) =>
      val tableRows =
        lshKeyedRowsSqlLabeled(planes = embPlanes(s, dir), tables = 8, dim = 64)
      s"""WITH keyed AS ($tableRows),
          cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
              a.embedding AS qv, b.embedding AS cv
            FROM keyed a JOIN keyed b
              ON a.tbl = b.tbl AND a.key = b.key AND a.label = b.label
            WHERE a.vec_id != b.vec_id),
          scored AS (SELECT DISTINCT qid, cid,
              ${cosSql("qv", "cv")} AS cosine FROM cand),
          r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cosine DESC, cid) AS rn FROM scored)
          SELECT qid, cid, cosine FROM r WHERE rn <= 3
          ORDER BY qid, cosine DESC, cid"""
    })

  /** X-SS6: ANN recall evaluation as a first-class operator — LSH
    * top-3 measured against the exact brute-force top-3 on the %20
    * query subset: per-query hit fraction, mean recall, perfect-query
    * count. The eval loop a production ANN index runs after every
    * re-build; both rankings round-6 + cid-tie-broken, so the
    * intersection counts are engine-exact, and recall i/3 is one IEEE
    * division (then 1e-6-floor + long-sum mean). */
  private val ssRecall = Q(
    "ss_recall_report",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      val brute = Vectors.bruteForceTopK(q, "query_id", "qv",
          e, "vec_id", "embedding", k = 3)
        .select(col("query_id").as("qid"), col("vec_id").as("cid"))
      // probe only the graded subset (identical kept rows — the
      // ss_recall_methods queryPred rationale, r15); the post-filter
      // stays as a no-op guard
      val lsh = Vectors.lshTopK(e, "vec_id", "embedding",
          dim = 64, k = 3, planes = embPlanes(s, dir), tables = 8,
          queryPred = Some(id => id % 20 === 0))
        .where(col("qid") % 20 === 0)
        .select(col("qid"), col("cid").as("_lcid"))
      val hits = brute.join(lsh,
          brute("qid") === lsh("qid") && brute("cid") === lsh("_lcid"),
          "left")
        .groupBy(brute("qid"))
        .agg(count(col("_lcid")).as("n_hits"))
      hits.select(col("qid"),
          (floor(col("n_hits").cast(org.apache.spark.sql.types.DoubleType)
            / 3 * 1e6 + 0.5) / 1e6).as("recall"))
        .agg(count(lit(1)).as("n_queries"),
          graft.core.Det.davgLong(col("recall"), 6).as("mean_recall"),
          sum(when(col("recall") === 1.0, 1L).otherwise(0L)).as("n_perfect"))
    },
    sqlGen = Some { (s, dir) =>
      val tableRows =
        lshKeyedRowsSql(planes = embPlanes(s, dir), tables = 8, dim = 64)
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id % 20 = 0),
          c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
          bscored AS (SELECT q.qid, c.cid, ${cosSql("qv", "cv")} AS cosine
            FROM q, c WHERE q.qid != c.cid),
          brute AS (SELECT qid, cid FROM (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cosine DESC, cid) AS rn FROM bscored)
            WHERE rn <= 3),
          keyed AS ($tableRows),
          cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid,
              a.embedding AS qv, b.embedding AS cv
            FROM keyed a JOIN keyed b ON a.tbl = b.tbl AND a.key = b.key
            WHERE a.vec_id != b.vec_id),
          lscored AS (SELECT DISTINCT qid, cid,
              ${cosSql("qv", "cv")} AS cosine FROM cand),
          lsh AS (SELECT qid, cid FROM (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cosine DESC, cid) AS rn FROM lscored)
            WHERE qid % 20 = 0 AND rn <= 3),
          hits AS (SELECT b.qid,
              CAST(count(l.cid) AS BIGINT) AS n_hits
            FROM brute b LEFT JOIN lsh l
              ON b.qid = l.qid AND b.cid = l.cid
            GROUP BY b.qid),
          rq AS (SELECT qid,
              floor(CAST(n_hits AS DOUBLE) / 3 * 1e6 + 0.5) / 1e6 AS recall
            FROM hits)
          SELECT count(*) AS n_queries,
            ${graft.core.Det.sqlDavgLong("recall", 6)} AS mean_recall,
            CAST(sum(CASE WHEN recall = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_perfect
          FROM rq"""
    })

  /** Embedding near-dup with LSH-bucket blocking — no label column
    * required (the r01 verdict flagged the label-blocked variant as
    * only as scalable as its blocking key; this one blocks on the
    * hyperplane buckets themselves). Entire pipeline oracle-exact:
    * weights inlined as SQL literals, candidates = OR-banding bucket
    * collisions, verify = round-6 cosine. */
  private val ddEmbcosLsh = Q(
    "dd_embcos_lsh",
    None,
    (s, dir) =>
      Vectors.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, threshold = 0.4, tables = 8, planes = embPlanes(s, dir))
        .orderBy("a", "b"),
    sqlGen = Some { (s, dir) =>
      val tableRows =
        lshKeyedRowsSql(planes = embPlanes(s, dir), tables = 8, dim = 64)
      s"""WITH keyed AS ($tableRows),
          cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b,
              x.embedding AS av, y.embedding AS bv
            FROM keyed x JOIN keyed y ON x.tbl = y.tbl AND x.key = y.key
            WHERE x.vec_id < y.vec_id),
          scored AS (SELECT DISTINCT a, b, ${cosSql("av", "bv")} AS cosine
            FROM cand)
          SELECT a, b, cosine FROM scored WHERE cosine >= 0.4
          ORDER BY a, b"""
    })

  /** X-SS12: reciprocal-rank fusion (Cormack et al. '09, k₀ = 60) of
    * two ANN indexes — the hybrid-retrieval combiner production RAG
    * stacks run when no single index dominates (and exactly what the
    * ss_recall_methods table shows here: LSH and IVF win on
    * different queries). Each index contributes 1/(60 + rank) per
    * candidate; candidates surfacing in EITHER list fuse via a
    * full-outer join on (query, candidate), top-5 per query by fused
    * score. Determinism: ranks are integer row_numbers over the
    * round-6 cosine order; each RRF term is one correctly rounded
    * IEEE division of exact ints and the two-term sum has a fixed
    * shape mirrored in the oracle (1.0 emitted as CAST(1 AS DOUBLE)
    * — the DuckDB decimal-literal rule). Scale: two index probes +
    * one (qid, cid)-keyed outer join, all bounded by 2·k·n rows. */
  private val ssRrf = Q(
    "ss_rrf_fusion",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      def ranked(df: org.apache.spark.sql.DataFrame, as: String) = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
        df.select(col("qid"), col("cid"), row_number().over(w).as(as))
      }
      val l = ranked(Vectors.lshTopK(e, "vec_id", "embedding",
        dim = 64, k = 10, planes = embPlanes(s, dir), tables = 8), "r_lsh")
      val iv = ranked(Vectors.ivfTopK(e, "vec_id", "embedding", cents,
        nProbe = Vectors.Ivf.NProbe, k = 10), "r_ivf")
      val fused = l.join(iv, Seq("qid", "cid"), "full_outer")
        .select(col("qid"), col("cid"),
          (coalesce(lit(1.0) / (lit(60) + col("r_lsh")), lit(0.0)) +
           coalesce(lit(1.0) / (lit(60) + col("r_ivf")), lit(0.0))).as("rrf"))
      GroupOps.topKPerGroup(fused, Seq("qid"), Seq(col("rrf").desc, col("cid")), 5)
        .withColumnRenamed("rank_in_group", "rank")
        .orderBy("qid", "rank")
    },
    sqlGen = Some { (s, dir) =>
      val cents = Vectors.trainIvfCentroids(t(s, dir, "embeddings"),
        "embedding", nCentroids = embCells(s, dir))
      s"""WITH lt AS (${lshTopkSql(planes = embPlanes(s, dir), tables = 8, dim = 64, k = 10)}),
          it AS (${ivfTopkSql(cents, nProbe = Vectors.Ivf.NProbe, k = 10)}),
          lr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, cid) AS r FROM lt),
          ir AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
              ORDER BY cosine DESC, cid) AS r FROM it),
          f AS (SELECT coalesce(lr.qid, ir.qid) AS qid,
              coalesce(lr.cid, ir.cid) AS cid,
              coalesce(CAST(1 AS DOUBLE) / (60 + lr.r), 0.0)
                + coalesce(CAST(1 AS DOUBLE) / (60 + ir.r), 0.0) AS rrf
            FROM lr FULL OUTER JOIN ir
              ON lr.qid = ir.qid AND lr.cid = ir.cid)
          SELECT qid, cid, rrf, rank FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
              ORDER BY rrf DESC, cid) AS rank FROM f) t
          WHERE rank <= 5 ORDER BY qid, rank"""
    })

  /** Int8 embedding quantization + reconstruction-error report:
    * per-vector symmetric scale, floor-based rounding (cross-engine
    * exact), order-independent max error. */
  private val ssQuant = Q(
    "ss_quantize_int8",
    Some("""WITH s AS (SELECT vec_id, embedding,
              greatest(list_max(list_transform(embedding,
                x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale
              FROM embeddings),
            q AS (SELECT vec_id, scale, embedding,
              list_transform(range(1, 65), i ->
                floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) / scale + 0.5)) AS qv
              FROM s)
            SELECT vec_id, round(scale, 6) AS scale,
              round(list_max(list_transform(range(1, 65), i ->
                abs(qv[CAST(i AS INT)] * scale
                  - CAST(embedding[CAST(i AS INT)] AS DOUBLE)))), 6) AS max_abs_err,
              CAST(list_max(list_transform(qv, v -> abs(v))) AS BIGINT) AS max_q
            FROM q ORDER BY vec_id"""),
    (s, dir) =>
      Vectors.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding", dim = 64)
        .orderBy("vec_id"))

  /** X-SS11: graph-based ANN — single-layer navigable small world
    * (the HNSW family minus the hierarchy: NN-descent construction,
    * beam-search probe; see [[graft.operators.Vectors.nswTopK]]), the
    * index shape most production vector stores run. Every phase is
    * bounded rounds of equi-joins + node-keyed windows, so the oracle
    * unrolls finitely and is GENERATED at Verify time at the same
    * auto-scaled plane count (footer row count — no Spark job), the
    * ss_topk_lsh/ss_mips mechanism. Recall floor in VectorsSpec;
    * graded against brute force as a fourth method in
    * `ss_recall_methods`. */
  private val ssHnsw = Q(
    "ss_topk_hnsw",
    None,
    (s, dir) =>
      Vectors.nswTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
          dim = 64, k = 3, planes = nswPlanes(s, dir))
        .orderBy(col("qid"), col("cosine").desc, col("cid")),
    sqlGen = Some { (s, dir) =>
      s"""${nswTopkSql(nswPlanes(s, dir))}
          ORDER BY qid, cosine DESC, cid"""
    })

  /** IVF-bucketed ANN (coarse k-means quantizer + probed inverted
    * lists). The oracle is generated at Verify time: centroid training
    * is deterministic (hash-ordered sample, maximin init, fixed
    * iterations), so the trained centroids are inlined as SQL literals
    * and assignment + ranking mirror [[graft.functions.Expressions.NearestCells]]
    * exactly — sequential double squared-L2 per centroid, argmin ties
    * by centroid index, probe the 2 nearest lists, round-6 cosine
    * ranking. Recall vs brute force additionally in VectorsSpec. */
  private val ssIvf = Q(
    "ss_topk_ivf",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      Vectors.ivfTopK(e, "vec_id", "embedding", cents, nProbe = Vectors.Ivf.NProbe, k = 3)
        .orderBy(col("qid"), col("cosine").desc, col("cid"))
    },
    sqlGen = Some { (s, dir) =>
      // Double.toString is shortest-round-trip, so DuckDB re-parses the
      // literals to the bit-identical doubles NearestCells uses.
      val cents = Vectors.trainIvfCentroids(t(s, dir, "embeddings"),
        "embedding", nCentroids = embCells(s, dir))
      s"""${ivfTopkSql(cents, nProbe = Vectors.Ivf.NProbe, k = 3)}
          ORDER BY qid, cosine DESC, cid"""
    })

  /** IVF-PQ ANN (coarse lists + product-quantized codes + ADC +
    * exact rerank) — the billion-scale index shape: the shuffled
    * candidate side carries (id, cell, 8 codes) instead of 64 floats
    * (32× smaller), scoring is 8 table lookups per pair, and only the
    * top-20 ADC shortlist per query ever touches raw vectors again.
    * The oracle is generated at Verify time like ss_topk_ivf: both
    * quantizers train deterministically (shared hash-ordered sample,
    * maximin init, fixed Lloyd iterations), so coarse centroids AND
    * all 8×kSub codebook rows (with their precomputed squared norms)
    * are inlined as SQL literals; encode (per-subspace argmin, ties
    * by code), the per-query ADC table, the j-ordered lookup sum,
    * shortlist ranking and the exact rerank all mirror the Spark
    * plan op-for-op. Recall floors in VectorsSpec. */
  private val ssIvfPq = Q(
    "ss_topk_ivfpq",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = Vectors.Ivf.KSub)
      Vectors.ivfPqTopK(e, "vec_id", "embedding", cents, cbs,
          nProbe = Vectors.Ivf.PqNProbe, k = 3, rerank = Vectors.Ivf.Rerank)
        .orderBy(col("qid"), col("cosine").desc, col("cid"))
    },
    sqlGen = Some { (s, dir) =>
      val e = t(s, dir, "embeddings")
      // Double.toString literals round-trip to the bit-identical
      // doubles the compiled kernels use (proven by ss_topk_ivf).
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = Vectors.Ivf.KSub)
      s"""${ivfPqTopkSql(cents, cbs, nProbe = Vectors.Ivf.PqNProbe, k = 3, rerank = Vectors.Ivf.Rerank)}
          ORDER BY qid, cosine DESC, cid"""
    })

  /** X-SS6b: the recall report across EVERY approximate method —
    * LSH, IVF, IVF-PQ and NSW/HNSW graph search each graded against
    * the exact brute-force top-3 on the %20 query subset, one row per
    * method (n_queries, mean recall, perfect-query count). The eval a production index
    * runs when choosing its operating point: the PQ path has the
    * most approximation knobs (codebooks, rerank depth) and is the
    * one a 100 TB deployment runs, so it is graded first-class, not
    * only its ranking. Oracle generated at Verify time — the three
    * method bodies are the SAME SQL mirrors the individual top-k
    * oracles use ([[lshTopkSql]]/[[ivfTopkSql]]/[[ivfPqTopkSql]]),
    * composed as CTEs against one brute-force baseline. Recall
    * floors asserted in VectorsSpec. */
  private val ssRecallMethods = Q(
    "ss_recall_methods",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      // re-scanned once per method below — tiny (3 rows per query)
      val brute = Vectors.bruteForceTopK(q, "query_id", "qv",
          e, "vec_id", "embedding", k = 3)
        .select(col("query_id").as("qid"), col("vec_id").as("cid"))
        // CP-OK: k rows per sampled query (bounded), rescanned once
        // per graded method
        .localCheckpoint()
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = Vectors.Ivf.KSub)
      def top3(m: String, df: org.apache.spark.sql.DataFrame) =
        df.where(col("qid") % 20 === 0)
          .select(lit(m).as("method"), col("qid"), col("cid"))
      // each index probes ONLY the graded query subset (queryPred):
      // per-qid results are independent, so the kept rows are
      // byte-identical to the all-queries run this query took through
      // r14 (then threw 95% of away) — index BUILD stages (signatures,
      // coarse cells, PQ codes, NSW graph) still cover the full corpus
      // (r15, guide §2.3). The post-filter in top3 stays as a no-op
      // guard documenting the grading contract.
      val evalQs = Some((id: org.apache.spark.sql.Column) => id % 20 === 0)
      val methods = top3("lsh", Vectors.lshTopK(e, "vec_id", "embedding",
          dim = 64, k = 3, planes = embPlanes(s, dir), tables = 8,
          queryPred = evalQs))
        .unionByName(top3("ivf", Vectors.ivfTopK(e, "vec_id", "embedding",
          cents, nProbe = Vectors.Ivf.NProbe, k = 3, queryPred = evalQs)))
        .unionByName(top3("ivfpq", Vectors.ivfPqTopK(e, "vec_id", "embedding",
          cents, cbs, nProbe = Vectors.Ivf.PqNProbe, k = 3, rerank = Vectors.Ivf.Rerank,
          queryPred = evalQs)))
        .unionByName(top3("hnsw", Vectors.nswTopK(e, "vec_id", "embedding",
          dim = 64, k = 3, planes = nswPlanes(s, dir), queryPred = evalQs)))
      // static method list exploded onto brute (narrow op) — a cross
      // join here plans CartesianProduct, which PlanAudit forbids
      val hits = brute.withColumn("method",
          explode(array(lit("lsh"), lit("ivf"), lit("ivfpq"), lit("hnsw"))))
        .join(methods.withColumn("_hit", lit(1)),
          Seq("method", "qid", "cid"), "left")
        .groupBy(col("method"), col("qid"))
        .agg(count(col("_hit")).as("n_hits"))
      hits.select(col("method"), col("qid"),
          (floor(col("n_hits").cast(org.apache.spark.sql.types.DoubleType)
            / 3 * 1e6 + 0.5) / 1e6).as("recall"))
        .groupBy(col("method"))
        .agg(count(lit(1)).as("n_queries"),
          graft.core.Det.davgLong(col("recall"), 6).as("mean_recall"),
          sum(when(col("recall") === 1.0, 1L).otherwise(0L)).as("n_perfect"))
        .orderBy("method")
    },
    sqlGen = Some { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = Vectors.trainIvfCentroids(e, "embedding",
        nCentroids = embCells(s, dir))
      val cbs = Vectors.trainPqCodebooks(e, "embedding", dim = 64, m = 8, kSub = Vectors.Ivf.KSub)
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
            WHERE vec_id % 20 = 0),
          c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings),
          bscored AS (SELECT q.qid, c.cid, ${cosSql("qv", "cv")} AS cosine
            FROM q, c WHERE q.qid != c.cid),
          brute AS (SELECT qid, cid FROM (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY cosine DESC, cid) AS rn FROM bscored)
            WHERE rn <= 3),
          lsht AS (${lshTopkSql(planes = embPlanes(s, dir), tables = 8, dim = 64, k = 3)}),
          ivft AS (${ivfTopkSql(cents, nProbe = Vectors.Ivf.NProbe, k = 3)}),
          pqt AS (${ivfPqTopkSql(cents, cbs, nProbe = Vectors.Ivf.PqNProbe, k = 3, rerank = Vectors.Ivf.Rerank)}),
          hnswt AS (${nswTopkSql(nswPlanes(s, dir))}),
          methods AS (
            SELECT 'lsh' AS method, qid, cid FROM lsht WHERE qid % 20 = 0
            UNION ALL
            SELECT 'ivf' AS method, qid, cid FROM ivft WHERE qid % 20 = 0
            UNION ALL
            SELECT 'ivfpq' AS method, qid, cid FROM pqt WHERE qid % 20 = 0
            UNION ALL
            SELECT 'hnsw' AS method, qid, cid FROM hnswt WHERE qid % 20 = 0),
          mm AS (SELECT * FROM (VALUES ('lsh'), ('ivf'), ('ivfpq'), ('hnsw'))
            AS v(method)),
          hits AS (SELECT mm.method, b.qid,
              CAST(count(m.cid) AS BIGINT) AS n_hits
            FROM mm CROSS JOIN brute b
            LEFT JOIN methods m ON m.method = mm.method
              AND m.qid = b.qid AND m.cid = b.cid
            GROUP BY mm.method, b.qid),
          rq AS (SELECT method, qid,
              floor(CAST(n_hits AS DOUBLE) / 3 * 1e6 + 0.5) / 1e6 AS recall
            FROM hits)
          SELECT method, count(*) AS n_queries,
            ${graft.core.Det.sqlDavgLong("recall", 6)} AS mean_recall,
            CAST(sum(CASE WHEN recall = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_perfect
          FROM rq GROUP BY method ORDER BY method"""
    })

  /** X-M8: distributed k-means cluster report — deterministic
    * driver-sample training (the IVF quantizer), then the full-corpus
    * assignment + per-cluster (size, mean quantized distance) as one
    * compiled scan pass + a k-row aggregate. Oracle generated at
    * Verify time with the trained centroids inlined as literals,
    * assignment and distance mirrored op-for-op. */
  private val m8Kmeans = Q(
    "m8_kmeans",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      // k stays PINNED: this is a k-means REPORT at the user's chosen
      // k (cluster semantics), not an ANN index sizing knob; the
      // distributed pass is one compiled scan + a k-row aggregate at
      // any corpus size
      val cents = Vectors.trainIvfCentroids(e, "embedding", nCentroids = 8)
      Vectors.kmeansReport(e, "vec_id", "embedding", cents)
        .orderBy("cell")
    },
    sqlGen = Some { (s, dir) =>
      val cents = Vectors.trainIvfCentroids(
        t(s, dir, "embeddings"), "embedding", nCentroids = 8)
      val centRows = cents.zipWithIndex.map { case (c, i) =>
        s"($i, ${c.mkString("[", ", ", "]")})"
      }.mkString(",\n              ")
      val distExpr =
        """list_sum(list_transform(range(1, 65), i ->
           (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])
           * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) - c.cvec[CAST(i AS INT)])))"""
      s"""WITH cents AS (SELECT * FROM (VALUES
              $centRows) AS t(cell, cvec)),
          d AS (SELECT e.vec_id, c.cell, $distExpr AS dist
            FROM embeddings e CROSS JOIN cents c),
          ranked AS (SELECT vec_id, cell, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS crn
            FROM d),
          a AS (SELECT vec_id, CAST(cell AS BIGINT) AS cell,
              floor(sqrt(dist) * 1e6 + 0.5) / 1e6 AS dist_q
            FROM ranked WHERE crn = 1)
          SELECT cell, count(*) AS n,
            ${graft.core.Det.sqlDavgLong("dist_q", 6)} AS mean_dist
          FROM a GROUP BY cell ORDER BY cell"""
    })

  /** Sliding-window chunking with overlap (window 64, stride 48 ⇒
    * 16-token overlap): the RAG/passage prep. Pure scan-stage math —
    * sequence of starts, one posexplode, slice; no shuffle. */
  private val txChunk = Q(
    "tx_chunk_overlap",
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          c AS (SELECT doc_id, unnest(range(0, greatest(len(toks), 1), 48)) AS start, toks
            FROM t)
          SELECT doc_id, CAST(start // 48 AS BIGINT) AS chunk_idx,
            CAST(start AS BIGINT) AS start_tok,
            CAST(len(list_slice(toks, start + 1, least(start + 64, len(toks)))) AS BIGINT)
              AS chunk_tokens,
            array_to_string(list_slice(toks, start + 1, least(start + 64, len(toks))), ' ')
              AS chunk_text
          FROM c ORDER BY doc_id, chunk_idx"""),
    (s, dir) =>
      Text.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
          window = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx"))

  /** Blocklist term filter with per-doc hit counts (the toxicity/
    * boilerplate cut, auditable). Scan-stage column math. */
  private val p14Blocklist = Q(
    "p14_blocklist",
    Some(s"""SELECT doc_id,
            CAST(len(list_filter($toksSql, x -> x IN ('slow', 'skew', 'spill'))) AS BIGINT)
              AS n_blocked,
            len(list_filter($toksSql, x -> x IN ('slow', 'skew', 'spill'))) > 0 AS blocked
          FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      Text.blocklistHits(t(s, dir, "documents"), "doc_id", "text",
          terms = Seq("slow", "skew", "spill"))
        .orderBy("doc_id"))

  /** X-P15: schema-contract enforcement — null/empty/domain/
    * consistency rules over the documents batch, one aggregate pass,
    * one report row per rule. All counts exact integers. */
  private val p15Contract = Q(
    "p15_contract",
    Some("""WITH a AS (SELECT count(*) AS n_rows,
              CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
              CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v1,
              CAST(sum(CASE WHEN lang IS NULL OR lang NOT IN
                ('en', 'de', 'fr', 'es', 'zh') THEN 1 ELSE 0 END) AS BIGINT) AS v2,
              CAST(sum(CASE WHEN n_chars IS DISTINCT FROM length(text)
                THEN 1 ELSE 0 END) AS BIGINT) AS v3,
              CAST(sum(CASE WHEN source IS NULL OR NOT regexp_matches(source,
                '^src[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v4
              FROM documents)
            SELECT r.rule, r.n_violations, a.n_rows, r.n_violations = 0 AS ok
            FROM a CROSS JOIN LATERAL (VALUES
              ('doc_id_null', v0), ('text_empty', v1), ('lang_domain', v2),
              ('n_chars_consistent', v3), ('source_format', v4))
              AS r(rule, n_violations)
            ORDER BY rule"""),
    (s, dir) =>
      Tables.contractReport(t(s, dir, "documents"), Seq(
          "doc_id_null" -> col("doc_id").isNull,
          "text_empty" -> (col("text").isNull || length(col("text")) === 0),
          "lang_domain" -> (col("lang").isNull ||
            !col("lang").isin("en", "de", "fr", "es", "zh")),
          "n_chars_consistent" -> !(col("n_chars") <=> length(col("text"))),
          "source_format" -> (col("source").isNull ||
            !col("source").rlike("^src[0-9]+$"))))
        .orderBy("rule"))

  /** Asymmetric containment pairs: |A∩B|/|A| over word-3-gram sets,
    * catching near-SUBSET duplication (quoted/boilerplate inclusion)
    * that symmetric Jaccard scores near zero. Candidates by prefix
    * filtering over the global rarity order (PPJoin family — MinHash
    * bands structurally cannot find subset pairs; char-5 shingles on
    * this corpus fan the prefix join out 164× vs word grams); verify
    * is exact set intersection, int/int divisions, no rounding. */
  private val ddContainment = Q(
    "dd_containment",
    Some(s"""WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          dd AS (SELECT doc_id, list_distinct(${ngramsOf("toks", 3)}) AS sh FROM tt),
          ex AS (SELECT doc_id, unnest(sh) AS g FROM dd),
          dfq AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
          rk AS (SELECT ex.doc_id, ex.g, ROW_NUMBER() OVER
              (PARTITION BY ex.doc_id ORDER BY dfq.df, ex.g) AS rn
            FROM ex JOIN dfq USING (g)),
          sz AS (SELECT doc_id, len(sh) AS n FROM dd),
          pre AS (SELECT rk.doc_id AS pa, rk.g FROM rk
            JOIN sz ON rk.doc_id = sz.doc_id
            WHERE rk.rn <= floor((1.0 - 0.6) * sz.n) + 1),
          cand AS (SELECT DISTINCT least(pre.pa, ex.doc_id) AS a,
              greatest(pre.pa, ex.doc_id) AS b
            FROM pre JOIN ex ON pre.g = ex.g WHERE pre.pa != ex.doc_id),
          j AS (SELECT cand.a, cand.b,
              len(list_intersect(da.sh, db.sh)) AS inter,
              len(da.sh) AS na, len(db.sh) AS nb
            FROM cand JOIN dd da ON cand.a = da.doc_id
              JOIN dd db ON cand.b = db.doc_id)
          SELECT a, b, inter / na AS containment_ab,
            inter / nb AS containment_ba, na, nb
          FROM j WHERE inter / na >= 0.6 OR inter / nb >= 0.6
          ORDER BY a, b"""),
    (s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.6, ngram = 3)
        .orderBy("a", "b"))

  /** X-DD19: CCNet/Gopher-style line-level dedup as a rewrite — drop
    * every segment duplicated corpus-wide and reassemble each doc
    * from its kept segments in order (see Dedup.segmentDedup for the
    * segment-unit note: fixed 10-token windows stand in for newlines
    * on this flat corpus). Oracle rebuilds the text independently
    * with string_agg(... ORDER BY pos); int/int removed fraction on
    * the 1e-6 floor grid. */
  private val ddLineDedup = Q(
    "dd_line_dedup",
    Some(s"""WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          b AS (SELECT doc_id, toks,
              CAST(ceil(len(toks) / 10.0) AS BIGINT) AS n_segments FROM tt),
          g AS (SELECT doc_id,
              unnest(range(0, n_segments)) AS pos,
              unnest(list_transform(range(0, n_segments),
                i -> array_to_string(
                  toks[CAST(i AS INT) * 10 + 1:CAST(i AS INT) * 10 + 10], ' '))) AS seg
            FROM b),
          cnt AS (SELECT seg, count(*) AS c FROM g GROUP BY seg),
          kept AS (SELECT g.doc_id, g.pos, g.seg
            FROM g JOIN cnt USING (seg) WHERE c <= 1),
          reb AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text,
              count(*) AS nkept FROM kept GROUP BY doc_id)
          SELECT b.doc_id, coalesce(reb.clean_text, '') AS clean_text,
            b.n_segments,
            CAST(b.n_segments - coalesce(reb.nkept, 0) AS BIGINT) AS n_removed,
            CASE WHEN b.n_segments = 0 THEN 0.0
              ELSE floor(CAST(b.n_segments - coalesce(reb.nkept, 0) AS DOUBLE)
                * 1000000.0 / b.n_segments + 0.5) / 1000000.0
            END AS removed_fraction
          FROM b LEFT JOIN reb USING (doc_id) ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.segmentDedup(t(s, dir, "documents"), "doc_id", "text",
          segTokens = 10, maxCount = 1)
        .orderBy("doc_id"))

  /** X-DD20: SEMANTIC decontamination — training embeddings flagged
    * when cosine-close to any benchmark embedding (the paraphrase
    * contamination the word-n-gram rule misses). Bench side = the
    * %20 query subset (the ss_* convention), broadcast into the
    * hyperplane-bucket join; per-train-doc (n_bench_hits,
    * max_cosine) aggregate. Fully oracle-exact via the shared
    * lshKeyedRowsSql plane literals. */
  private val ddSemanticDecon = Q(
    "dd_semantic_decon",
    None,
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Vectors.semanticDecontaminate(
          e.where(col("vec_id") % 20 =!= 0), e.where(col("vec_id") % 20 === 0),
          "vec_id", "embedding", dim = 64, threshold = 0.3,
          tables = 8, planes = embPlanes(s, dir))
        .orderBy("vec_id")
    },
    sqlGen = Some { (s, dir) =>
      val tableRows =
        lshKeyedRowsSql(planes = embPlanes(s, dir), tables = 8, dim = 64)
      s"""WITH keyed AS ($tableRows),
          tr AS (SELECT * FROM keyed WHERE vec_id % 20 != 0),
          be AS (SELECT * FROM keyed WHERE vec_id % 20 = 0),
          cand AS (SELECT DISTINCT tr.vec_id AS tid, be.vec_id AS bid,
              tr.embedding AS tv, be.embedding AS bv
            FROM tr JOIN be ON tr.tbl = be.tbl AND tr.key = be.key),
          scored AS (SELECT DISTINCT tid, bid, ${cosSql("tv", "bv")} AS cosine
            FROM cand)
          SELECT tid AS vec_id, count(*) AS n_bench_hits,
            max(cosine) AS max_cosine
          FROM scored WHERE cosine >= 0.3
          GROUP BY tid ORDER BY vec_id"""
    })

  /** X-DD22: exact-substring dedup as a rewrite — duplicated
    * corpus-wide n-gram runs REMOVED from every document,
    * order-preserving reassembly + removal report
    * ([[Dedup.substringDedup]]; dd_dupspan is the report-only
    * sibling, dd_line_dedup the fixed-window one). Oracle rebuilds
    * the kept text independently with string_agg ORDER BY pos over
    * the anti-joined positions. */
  private val ddSubstring = Q(
    "dd_substring_dedup",
    Some(s"""WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tt),
          g AS (SELECT doc_id,
              unnest(range(0, greatest(n_tokens - 7, 0))) AS pos,
              unnest(list_transform(range(0, greatest(n_tokens - 7, 0)),
                i -> array_to_string(
                  toks[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' '))) AS gram
            FROM b),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
          cov AS (SELECT DISTINCT doc_id, p FROM
            (SELECT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS p
             FROM g JOIN dup USING (gram))),
          pt AS (SELECT doc_id, unnest(range(0, n_tokens)) AS p,
              unnest(toks) AS tok FROM b),
          kept AS (SELECT pt.doc_id, pt.p, pt.tok
            FROM pt LEFT JOIN cov ON pt.doc_id = cov.doc_id AND pt.p = cov.p
            WHERE cov.p IS NULL),
          reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
              count(*) AS nkept FROM kept GROUP BY doc_id)
          SELECT b.doc_id, coalesce(reb.clean_text, '') AS clean_text,
            CAST(b.n_tokens AS BIGINT) AS n_tokens,
            CAST(b.n_tokens - coalesce(reb.nkept, 0) AS BIGINT) AS n_removed,
            CASE WHEN b.n_tokens = 0 THEN 0.0
              ELSE floor(CAST(b.n_tokens - coalesce(reb.nkept, 0) AS DOUBLE)
                * 1000000.0 / b.n_tokens + 0.5) / 1000000.0 END AS removed_fraction
          FROM b LEFT JOIN reb USING (doc_id) ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id"))

  /** X-EP9: pre-training curation composite over the r12 operator
    * set, chained end-to-end: linear-quality gate (z ≥ 0 — the
    * tx_lr_quality label signal, bit-exact rational math) →
    * exact-substring REWRITE (duplicated corpus-wide 8-gram runs cut
    * from the surviving docs; docs losing ≥ half their tokens, or
    * everything, dropped) → exact dedup of the REWRITTEN text
    * (fingerprint of the clean text, keep min id — catches docs that
    * became identical once boilerplate was cut) → per-source
    * token-budget admission on the clean text. Every stage is
    * individually oracled elsewhere; the composite oracle chains the
    * same CTE fragments. Scale shape = the stages' own: scan-stage
    * gate, collision-bounded span removal, hash-agg dedup, sharded
    * budget windows. */
  private val ep9Curation = Q(
    "ep9_pretrain_curation",
    Some {
      val z = s"""-2.0 + 3.0 * ($qualityInlineSql2)
              + 1.5 * (len(list_distinct(toks)) / len(toks))
              - 2.0 * ((len(g3) - len(list_distinct(g3))) / len(g3))
              + 0.5 * least(1.0, len(toks) / 200.0)"""
      s"""WITH t0 AS (SELECT doc_id, text, source, $toksSql AS toks FROM documents),
          g0 AS (SELECT doc_id, text, source, toks,
              ${ngramsOf("toks", 3)} AS g3 FROM t0),
          zf AS (SELECT doc_id, source, toks FROM g0 WHERE ($z) >= 0.0),
          b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM zf),
          g AS (SELECT doc_id,
              unnest(range(0, greatest(n_tokens - 7, 0))) AS pos,
              unnest(list_transform(range(0, greatest(n_tokens - 7, 0)),
                i -> array_to_string(
                  toks[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' '))) AS gram
            FROM b),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
          cov AS (SELECT DISTINCT doc_id, p FROM
            (SELECT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS p
             FROM g JOIN dup USING (gram))),
          pt AS (SELECT doc_id, unnest(range(0, n_tokens)) AS p,
              unnest(toks) AS tok FROM b),
          kept AS (SELECT pt.doc_id, pt.p, pt.tok
            FROM pt LEFT JOIN cov ON pt.doc_id = cov.doc_id AND pt.p = cov.p
            WHERE cov.p IS NULL),
          reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
              count(*) AS nkept FROM kept GROUP BY doc_id),
          cl AS (SELECT b.doc_id, coalesce(reb.clean_text, '') AS clean_text,
              b.n_tokens, b.n_tokens - coalesce(reb.nkept, 0) AS n_removed
            FROM b LEFT JOIN reb ON b.doc_id = reb.doc_id),
          fl AS (SELECT cl.doc_id, cl.clean_text, zf.source FROM cl
            JOIN zf ON cl.doc_id = zf.doc_id
            WHERE (CASE WHEN cl.n_tokens = 0 THEN 0.0
              ELSE floor(CAST(cl.n_removed AS DOUBLE) * 1000000.0
                / cl.n_tokens + 0.5) / 1000000.0 END) < 0.5
              AND cl.n_removed < cl.n_tokens),
          fp AS (SELECT doc_id, source, clean_text,
              md5(array_to_string(list_sort(list_distinct(
                regexp_split_to_array(lower(clean_text), '\\s+'))), ' ')) AS f
            FROM fl),
          uq AS (SELECT doc_id, source, clean_text FROM
            (SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY doc_id) AS rn
             FROM fp) WHERE rn = 1),
          s AS (SELECT doc_id, source,
              len(regexp_split_to_array(lower(clean_text), '\\s+')) AS n_toks,
              ${Text.sampleBucketSql("doc_id")} AS bucket FROM uq),
          w AS (SELECT *, bucket % 4 AS shard,
              CAST(sum(n_toks) OVER (PARTITION BY source, bucket % 4
                ORDER BY bucket, doc_id ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum
            FROM s)
          SELECT source, doc_id, n_toks FROM w WHERE cum <= 150
          ORDER BY source, doc_id"""
    },
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // spread + persist before the z-gate: the quality expressions
      // are the CPU-heavy part, and a bare filter is pushed BELOW the
      // repartition exchange back into the single-task scan (filters
      // push through RepartitionByExpression; projections don't —
      // measured 5.6 s single-task at sf0.1). The cached 32-partition
      // frame is the pushdown boundary, and the source join below
      // reuses it.
      val base = Tables.spread(docs, col("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val zkept = base.where(Text.fusedLinearScore(col("text")) >= 0.0)
      val rewritten = Dedup.substringDedup(zkept, "doc_id", "text", n = 8)
        .where(col("removed_fraction") < 0.5 && col("n_removed") < col("n_tokens"))
      val withSrc = rewritten.select(col("doc_id"), col("clean_text"))
        .join(base.select(col("doc_id"), col("source")), Seq("doc_id"))
      val rn = row_number().over(
        Window.partitionBy(Text.fingerprint(col("clean_text"))).orderBy(col("doc_id")))
      val uniq = withSrc.withColumn("_rn", rn).where(col("_rn") === 1)
      Text.tokenBudgetMix(
          uniq.select(col("doc_id"), col("source"), col("clean_text")),
          "doc_id", "clean_text", "source", budgetPerDomain = 600, nShards = 4)
        .orderBy("source", "doc_id")
    })

  /** X-DD23: content-defined-chunking dedup (FastCDC/LBFS on text):
    * boundaries where the 16-char rolling Horner hash ≡ 0 mod 64 —
    * a pure function of local content, so chunking re-syncs after
    * insertions (CdcSpec proves it); per-doc report of bytes living
    * in corpus-duplicated chunks (the content-addressed-store dedup
    * ratio). All native higher-order functions, scan-stage. */
  private val ddCdc = Q(
    "dd_cdc_dedup",
    Some("""WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
          c0 AS (SELECT doc_id, txt,
              list_sort(list_distinct(list_concat(list_concat(
                [CAST(0 AS BIGINT)],
                CASE WHEN length(txt) >= 16 THEN
                  list_filter(range(16, length(txt) + 1), i ->
                    list_reduce(list_transform(range(i - 15, i + 1),
                      j -> CAST(unicode(substr(txt, CAST(j AS INT), 1)) AS BIGINT)),
                      (a, c) -> (a * 31 + c) % 1000000007) % 64 = 0)
                ELSE CAST([] AS BIGINT[]) END),
                [CAST(length(txt) AS BIGINT)]))) AS cuts
            FROM t),
          ck AS (SELECT doc_id, txt, cuts, unnest(range(1, len(cuts))) AS k
            FROM c0 WHERE len(cuts) >= 2),
          chs AS (SELECT doc_id,
              cuts[CAST(k + 1 AS INT)] - cuts[CAST(k AS INT)] AS clen,
              substr(txt, CAST(cuts[CAST(k AS INT)] + 1 AS INT),
                     CAST(cuts[CAST(k + 1 AS INT)] - cuts[CAST(k AS INT)] AS INT))
                AS ctext
            FROM ck),
          dup AS (SELECT ctext FROM chs GROUP BY ctext HAVING count(*) > 1),
          db AS (SELECT doc_id, CAST(sum(clen) AS BIGINT) AS dup_bytes
            FROM chs JOIN dup USING (ctext) GROUP BY doc_id),
          nb AS (SELECT doc_id, CAST(len(cuts) - 1 AS BIGINT) AS n_chunks,
              CAST(length(txt) AS BIGINT) AS n_bytes FROM c0)
          SELECT nb.doc_id, nb.n_chunks, nb.n_bytes,
            CAST(coalesce(db.dup_bytes, 0) AS BIGINT) AS dup_bytes,
            CASE WHEN nb.n_bytes = 0 THEN 0.0
              ELSE floor(CAST(coalesce(db.dup_bytes, 0) AS DOUBLE) * 1000000.0
                / nb.n_bytes + 0.5) / 1000000.0 END AS dedup_ratio
          FROM nb LEFT JOIN db ON nb.doc_id = db.doc_id ORDER BY nb.doc_id"""),
    (s, dir) =>
      Dedup.cdcDedup(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"))

  /** X-DD14: cross-corpus duplicated-span coverage — fraction of each
    * document's tokens lying inside a word 8-gram that occurs more
    * than once corpus-wide (the MassiveText boilerplate signal;
    * tx_repetition's dup-3gram fraction is the within-doc sibling).
    * Positional grams zip by parallel unnest in the oracle, exactly
    * mirroring posexplode. */
  private val ddDupSpan = Q(
    "dd_dupspan",
    Some(s"""WITH tt AS (SELECT doc_id, $toksSql AS toks FROM documents),
          b AS (SELECT doc_id, len(toks) AS n_tokens, toks FROM tt),
          g AS (SELECT doc_id,
              unnest(range(0, greatest(n_tokens - 7, 0))) AS pos,
              unnest(list_transform(range(0, greatest(n_tokens - 7, 0)),
                i -> array_to_string(
                  toks[CAST(i AS INT) + 1:CAST(i AS INT) + 8], ' '))) AS gram
            FROM b),
          dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
          cov AS (SELECT DISTINCT doc_id, p FROM
            (SELECT g.doc_id, unnest(range(g.pos, g.pos + 8)) AS p
             FROM g JOIN dup USING (gram))),
          cnt AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id)
          SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
            CASE WHEN b.n_tokens = 0 THEN 0.0
              ELSE floor(CAST(coalesce(cnt.n_cov, 0) AS DOUBLE) * 1000000.0
                / b.n_tokens + 0.5) / 1000000.0 END AS dup_span_fraction
          FROM b LEFT JOIN cnt USING (doc_id) ORDER BY doc_id"""),
    (s, dir) =>
      Dedup.dupSpanCoverage(t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id"))

  /** Keep-BEST dedup canonicalization: near-dup groups (the
    * dd_dup_groups pipeline) resolved to the highest-quality member
    * instead of the min id — what production curation actually keeps.
    * Oracle: the recursive-closure CTEs + a quality rank window. */
  private val ddKeepBest = Q(
    "dd_keep_best",
    Some(s"""WITH RECURSIVE $polyPairCtes,
          p2 AS (SELECT a, b FROM v WHERE jaccard >= 0.25),
          edges AS (SELECT a AS x, b AS y FROM p2
            UNION ALL SELECT b AS x, a AS y FROM p2),
          nodes AS (SELECT DISTINCT x AS id FROM edges),
          r(id, label) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.y, r.label FROM r JOIN edges e ON r.id = e.x),
          cc AS (SELECT id, min(label) AS canonical FROM r GROUP BY id),
          g AS (SELECT d0.doc_id, coalesce(cc.canonical, d0.doc_id) AS canonical_id
            FROM documents d0 LEFT JOIN cc ON d0.doc_id = cc.id),
          q AS (SELECT doc_id, $qualityInlineSql AS quality FROM documents),
          jq AS (SELECT g.canonical_id, g.doc_id, q.quality
            FROM g JOIN q USING (doc_id)),
          rk AS (SELECT canonical_id, doc_id, quality,
              ROW_NUMBER() OVER (PARTITION BY canonical_id
                ORDER BY quality DESC, doc_id) AS rn,
              count(*) OVER (PARTITION BY canonical_id) AS group_size
            FROM jq)
          SELECT canonical_id, doc_id AS kept_id, quality AS kept_score, group_size
          FROM rk WHERE rn = 1 ORDER BY canonical_id"""),
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val groups = Dedup.duplicateGroups(docs, "doc_id", "text",
        threshold = 0.25, shingleSize = 5, numHashes = 8, bandSize = 4, poly = true)
      // spread BEFORE the quality kernel (the r01 minhash rule): this
      // frame becomes the broadcast build side of the keep-best join,
      // and unspread the compiled score ran serially inside the
      // single-task scan feeding BroadcastExchange (measured 0.35 s
      // warm / 7 s cold-JIT per run, r15)
      val scores = graft.core.Tables.spread(
          docs.select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
      Dedup.keepBestPerGroup(groups, scores, "doc_id", "quality")
        .orderBy("canonical_id")
    })

  val all: Seq[Q] = Seq(txTokens, txQuality, txLangid, txFingerprint,
    txRepetition, txFused, txLangEval, txSplit, txCorpus, txCommonness, txBigramLm, txPmi, txTfidf, txBm25,
    txVocab, txPack,
    txPackReport, txMix, txTemp, p12Stratified,
    ddExact, ddSoft, ddUrl, ddMinhash, ddLshQuality, ddSweep, ddMinhashPoly, stNearDup, stIngestDedup, ddDupGroups,
    ddGroupStats, ddSemantic, ddDecontaminate, ddIncremental, ddBloom,
    ddNgram, txRouge, txDomainOverlap, ddSimhash, ddSimhashHam, txDsir, txEntropy, txTokenBudget, txHashingTf,
    txNbLangid, txBpePairs, txBpeTrain, txBpeApply, txLrQuality, m18Boost, m19Isotonic, stTokenBudget, txLmPpl,
    ddEmbcos, ddEmbcosLsh, ssTopk, ssLsh, ssFiltered, ssHnsw, ssIvf, ssIvfPq,
    m8Kmeans, ssRecall, ssRecallMethods, ssRrf, ssQuant, ssMips,
    txChunk, p14Blocklist, p15Contract, ddKeepBest, ddContainment, ddDupSpan, ddSubstring, ddCdc,
    ddLineDedup, ddSemanticDecon, txCcnetBuckets, ssDiverse, txEpochMix,
    ep4Corpus, ep7Ingest, ep8Rag, ep9Curation)
}
