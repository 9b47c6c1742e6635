package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * Everything is Catalyst column expressions (codegen'd, no UDFs):
  * at 100 TB these run inside the parquet scan stage with zero extra
  * shuffles.
  */
object Text {

  /** Whitespace tokenization of the lowercased text. */
  def tokens(c: Column): Column = split(lower(c), "\\s+")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Cheap BPE-ish token estimate: ~4 chars per subword token. */
  def bpeTokenEstimate(c: Column): Column =
    greatest(lit(1L), ceil(length(c) / 4.0).cast(LongType))

  /** BPE-style PRE-tokenizer count: the GPT-2 pretokenizer's
    * letter-run / digit-run / punctuation-run split (the category
    * boundaries BPE merges never cross), minus its lookahead-based
    * space handling so the pattern stays in the Java ∩ RE2 dialect.
    * Counts the units a real subword tokenizer would then merge
    * within — a far better length signal than chars/4 for
    * mixed-alphanumeric text (e.g. code, URLs). */
  val pretokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"
  def pretokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit(pretokenPattern), lit(0))).cast(LongType)

  def meanTokenLen(c: Column): Column =
    length(regexp_replace(c, "\\s+", "")) / tokenCount(c)

  def stopwordCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isInCollection(words)))

  /** Per-language mini stopword lists for the n-gram/stopword
    * language-ID heuristic. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "les", "et", "des", "un"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3"))

  /** Language-ID: argmax of stopword hits with a fixed priority order
    * on ties (deterministic). */
  def langId(c: Column): Column = {
    val toks = tokens(c)
    val counts = langStopwords.map { case (lang, words) =>
      lang -> stopwordCount(toks, words)
    }
    counts.init.zipWithIndex.foldRight(lit(counts.last._1): Column) {
      case (((lang, cnt), i), elseExpr) =>
        val laterCounts = counts.drop(i + 1).map(_._2)
        when(laterCounts.foldLeft(lit(true))((acc, o) => acc && cnt >= o), lang)
          .otherwise(elseExpr)
    }
  }

  /** Document quality score in [0, 1]: stopword density + length +
    * mean token length (the reference-style length/punct/stopword
    * ratio family). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c)
    val stopRatio = stopwordCount(tokens(c), langStopwords.head._2) / nTok
    lit(0.5) * stopRatio +
      lit(0.3) * least(lit(1.0), nTok / 100.0) +
      lit(0.2) * least(lit(1.0), meanTokenLen(c) / 5.0)
  }

  /** Document fingerprint: md5 over the sorted distinct token set
    * (order-insensitive content identity). */
  def fingerprint(c: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(c)))))

  /** Distinct word n-gram shingles. */
  def wordShingles(c: Column, n: Int): Column = {
    val t = tokens(c)
    array_distinct(transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n)))))
  }

  /** Word n-grams WITH multiplicity (no distinct) — the base for
    * repetition statistics, where how often an n-gram repeats is the
    * signal. Same windowing as [[wordShingles]]: a doc shorter than
    * n yields its single truncated gram. */
  def wordNgrams(c: Column, n: Int): Column = {
    val t = tokens(c)
    transform(
      sequence(lit(1), greatest(size(t) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(t, i, lit(n))))
  }

  // ------------------------------------------------ repetition signals

  /** Type-token ratio: distinct / total whitespace tokens — low TTR
    * flags word-level repetition (the Gopher-style repetition-filter
    * family). Int/int division both engines → exact double. */
  def typeTokenRatio(c: Column): Column = {
    val t = tokens(c)
    size(array_distinct(t)) / size(t)
  }

  /** Fraction of n-gram OCCURRENCES that repeat an earlier occurrence
    * — the "duplicate n-gram fraction" repetition signal. */
  def dupNgramFraction(c: Column, n: Int): Column = {
    val g = wordNgrams(c, n)
    (size(g) - size(array_distinct(g))) / size(g)
  }

  /** Share of n-gram occurrences claimed by the single most frequent
    * n-gram (the "top n-gram fraction" signal). Per-doc cost is
    * O(distinct · total) — bounded by doc length, runs inside the
    * scan stage, no shuffle. */
  def topNgramShare(c: Column, n: Int): Column = {
    val g = wordNgrams(c, n)
    array_max(transform(array_distinct(g), x => size(filter(g, y => y === x)))) /
      size(g)
  }

  /** Quality-classifier score fusion: a fixed-weight logistic
    * "classifier" over the engine's existing per-document quality
    * signals (stopword/length quality, type-token ratio, duplicate-
    * 3-gram fraction, a saturating length feature). The weights are
    * the model — swap them for trained coefficients without touching
    * the plan shape. Pure scan-stage column math: the features are
    * int/int IEEE divisions (cross-engine exact); only exp() differs
    * in the last ulp across libms, so consumers should rank/cut on
    * the round-6 value (the tx_quality_fused recipe). */
  def fusedQualityScore(c: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-fusedLinearScore(c)))

  /** The linear score under [[fusedQualityScore]]'s sigmoid — pure
    * rational scan-stage arithmetic (int/int divisions, fixed op
    * order), so unlike the sigmoid it is bit-exact across engines
    * with NO rounding recipe. Label source for trained-model
    * operators (tx_lr_quality). */
  def fusedLinearScore(c: Column): Column =
    lit(-2.0) +
      lit(3.0) * qualityScore(c) +
      lit(1.5) * typeTokenRatio(c) -
      lit(2.0) * dupNgramFraction(c, 3) +
      lit(0.5) * least(lit(1.0), tokenCount(c) / 200.0)

  /** Canonicalize a URL for identity-level dedup: lowercase, strip
    * the scheme and a leading "www.", drop the query string and
    * fragment, trim trailing slashes. A deterministic regexp chain in
    * the Java ∩ RE2 common dialect (anchored patterns — replace-first
    * and replace-all agree), runs in the scan stage. */
  def canonicalUrl(u: Column): Column = {
    val noScheme = regexp_replace(lower(u), "^[a-z][a-z0-9+.-]*://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noQueryFragment = regexp_replace(noWww, "[?#].*$", "")
    regexp_replace(noQueryFragment, "/+$", "")
  }

  /** Exact Jaccard similarity of two distinct-element arrays —
    * |A∩B| / (|A| + |B| − |A∩B|); int/int division, deterministic. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter / (size(a) + size(b) - inter)
  }

  // ------------------------------------------------ PII scrubbing

  /** PII patterns, ordered most- to least-specific (scrubbing applies
    * them in sequence, so a generic digit-run rule can't eat an email
    * or phone match first). The regexes stay in the Java ∩ RE2 common
    * dialect — character classes, bounded repeats, no lookaround or
    * backreferences — so the engine (Java regex) and the DuckDB
    * oracle (RE2) agree match-for-match. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("num", "[0-9]+", "<NUM>"))

  /** Redact every PII pattern (sequentially, in `patterns` order).
    * A pure codegen'd column chain — PII scrubbing of a 100 TB corpus
    * runs inside the scan stage with zero shuffles. */
  def scrubPii(c: Column,
               patterns: Seq[(String, String, String)] = piiPatterns): Column =
    patterns.foldLeft(c) { case (acc, (_, re, repl)) =>
      regexp_replace(acc, re, repl)
    }

  /** Per-pattern match counts under sequential scrubbing: each
    * pattern is counted on the string state it is applied to (after
    * the more specific patterns were already redacted), so nothing is
    * double-counted. Returns columns named `n_<pattern>`. */
  def piiCounts(c: Column,
                patterns: Seq[(String, String, String)] = piiPatterns): Seq[Column] = {
    val states = patterns.scanLeft(c) { case (acc, (_, re, repl)) =>
      regexp_replace(acc, re, repl)
    }
    patterns.zip(states).map { case ((name, re, _), state) =>
      size(regexp_extract_all(state, lit(re), lit(0)))
        .cast(LongType).as(s"n_$name")
    }
  }

  /** Deterministic train/val/test assignment by id: an LCG over the
    * id picks a bucket in [0, 1000); split boundaries are per-mille.
    * How production pipelines split — stable under reshuffles,
    * reproducible across engines (pure integer arithmetic < 2^63,
    * same family as the poly minhash), no RNG state. Default
    * 800/100/100.
    */
  def hashSplit(id: Column, trainPerMille: Int = 800,
                valPerMille: Int = 100): Column = {
    // reduce mod 1e9+7 first so the LCG product stays < 2^63 for
    // arbitrarily large (nonnegative) ids — no ANSI overflow at scale
    val bucket = pmod(
      pmod(id.cast(LongType), lit(1000000007L)) * 1103515245L + 12345L, lit(1000L))
    when(bucket < trainPerMille, "train")
      .when(bucket < trainPerMille + valPerMille, "val")
      .otherwise("test")
  }

  /** SQL twin of [[hashSplit]] for the DuckDB oracle. */
  def hashSplitSql(idExpr: String, trainPerMille: Int = 800,
                   valPerMille: Int = 100): String = {
    val b = s"((($idExpr) % 1000000007) * 1103515245 + 12345) % 1000"
    s"""CASE WHEN $b < $trainPerMille THEN 'train'
             WHEN $b < ${trainPerMille + valPerMille} THEN 'val'
             ELSE 'test' END"""
  }

  /** Per-mille sampling bucket of an id — the same LCG family as
    * [[hashSplit]]; deterministic, engine-independent, stable under
    * reshuffles. */
  def sampleBucket(id: Column): Column = pmod(
    pmod(id.cast(LongType), lit(1000000007L)) * 1103515245L + 12345L, lit(1000L))

  /** SQL twin of [[sampleBucket]]. */
  def sampleBucketSql(idExpr: String): String =
    s"((($idExpr) % 1000000007) * 1103515245 + 12345) % 1000"

  /** Stratified deterministic sampling: keep a row iff its id bucket
    * falls under its stratum's per-mille rate. No RNG, no
    * `sample()` nondeterminism — the keep-set is a pure function of
    * (id, stratum), so reruns, retries and other engines agree
    * row-for-row. Runs entirely in the scan stage (no shuffle). */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, idCol: String,
                       stratumCol: String,
                       ratesPerMille: Seq[(String, Int)]): org.apache.spark.sql.DataFrame = {
    val bucket = sampleBucket(col(idCol))
    val rate = stratumWeight(col(stratumCol), ratesPerMille, 0)
    df.withColumn("sample_bucket", bucket).where(col("sample_bucket") < rate)
  }

  // ------------------------------------------------ domain mixing

  /** `weights`' value of each stratum, `default` for any other; the
    * default's type types the literal (INT `0`, DOUBLE `0.0`). */
  private def stratumWeight[W](stratum: Column, weights: Seq[(String, W)], default: W): Column =
    weights.tail.foldLeft(when(stratum === weights.head._1, lit(weights.head._2))) {
      case (acc, (s, w)) => acc.when(stratum === s, lit(w))
    }.otherwise(lit(default))

  /** Keep each stratum's first `_k` rows (`quota`, broadcast) in the
    * deterministic LCG-bucket-then-id order, ranked as `mix_rank`. */
  private def quotaCut(df: org.apache.spark.sql.DataFrame, idCol: String, stratumCol: String,
                       quota: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("mix_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
          .orderBy(sampleBucket(col(idCol)), col(idCol))))
      .join(broadcast(quota), Seq(stratumCol))
      .where(col("mix_rank") <= col("_k"))
      .drop("_k")

  /** Balanced domain mixing: downsample every stratum to integer
    * target weights `w` — the "data mixing" step that turns a skewed
    * crawl into the language/domain proportions training wants. The
    * achievable corpus is C = min over strata of n_s / w_s; each
    * stratum keeps k_s = floor(C · w_s) docs, selected
    * deterministically by LCG-bucket-then-id order (so the kept set
    * is reproducible across engines, reruns and partitionings — the
    * [[sampleBucket]] family, no RNG).
    *
    * Scale: one count aggregate (stratum-cardinality rows, broadcast
    * back) + one rank window partitioned by stratum — a single
    * shuffle of the detail rows on a high-cardinality-enough key; at
    * 100 TB the stratum is (domain, shard) rather than a handful of
    * languages. Returns the kept rows with their per-stratum rank. */
  def balancedMix(df: org.apache.spark.sql.DataFrame, idCol: String,
                  stratumCol: String,
                  weights: Seq[(String, Int)]): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_w", stratumWeight(col(stratumCol), weights, 0))
      .where(col("_w") > 0)
    // C = min(n_s / w_s): one tiny aggregate; k_s rides back on the
    // broadcast. The same IEEE division + floor runs in the oracle.
    val c = counts.agg(min(col("_n") / col("_w")).as("_c"))
    val quota = counts.crossJoin(broadcast(c))
      .select(col(stratumCol), floor(col("_c") * col("_w")).as("_k"))
    quotaCut(df, idCol, stratumCol, quota)
  }

  /** Epoch-based UP-sampling mix — the "repeat high-quality sources
    * N.x times" rule of pre-training data recipes (weights may exceed
    * 1, unlike [[balancedMix]]/[[temperatureMix]] which only select
    * DOWN): every doc of a stratum with weight w is emitted
    * floor(w) times, plus once more for the deterministic
    * per-mille fraction of docs whose LCG bucket falls under
    * round(1000·(w − floor(w))) — so realized stratum epochs converge
    * to w with zero RNG (stable under reshuffles, engine-exact).
    * Returns the expanded frame with `copy_idx` (1..n_copies).
    * Scale shape: one scan-stage sequence explode — fanout = the
    * weight itself; no shuffle, no driver state. */
  def epochMix(df: org.apache.spark.sql.DataFrame, idCol: String,
               stratumCol: String,
               weights: Seq[(String, Double)]): org.apache.spark.sql.DataFrame = {
    val w = stratumWeight(col(stratumCol), weights, 0.0)
    val copies = (floor(w).cast(IntegerType) +
      when(sampleBucket(col(idCol)) < round((w - floor(w)) * 1000).cast(IntegerType), 1)
        .otherwise(0)).as("_copies")
    df.withColumn("_copies", copies)
      .where(col("_copies") > 0)
      .withColumn("copy_idx", explode(sequence(lit(1), col("_copies"))))
      .drop("_copies")
  }

  /** Temperature-flattened domain resampling: keep
    * k_d = floor(T · n_d^τ / Σ_s n_s^τ) docs of stratum d, where
    * T = targetFraction · N — the multilingual/domain rebalancing rule
    * (τ < 1 upsamples the tail relative to its natural share; τ = 1 is
    * proportional, τ = 0 uniform). Selection within a stratum is the
    * deterministic LCG-bucket-then-id order of [[balancedMix]] — no
    * RNG, reproducible across engines/reruns/partitionings.
    *
    * Cross-engine exactness: τ = 0.5 (the common choice) runs on
    * sqrt — correctly rounded in every IEEE libm, so quotas mirror
    * bit-for-bit in the DuckDB oracle. Other τ go through pow(),
    * whose last ulp is libm-specific — fine operationally, but pin
    * τ = 0.5 for anything hash-compared. Σ_s n_s^τ is folded in
    * stratum order over a sorted dimension-sized array (collect_list
    * order is partition-dependent; the sort pins the float fold).
    *
    * Scale: one stratum-cardinality count aggregate; quotas ride back
    * on a broadcast; one rank window per stratum — same single-shuffle
    * shape as [[balancedMix]]. */
  def temperatureMix(df: org.apache.spark.sql.DataFrame, idCol: String,
                     stratumCol: String, targetFraction: Double,
                     tau: Double = 0.5): org.apache.spark.sql.DataFrame = {
    val wOf = (n: org.apache.spark.sql.Column) =>
      if (tau == 0.5) sqrt(n) else pow(n, tau)
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val z = counts.agg(
      sum(col("_n")).as("_tot"),
      aggregate(
        sort_array(collect_list(struct(col(stratumCol).as("s"),
          wOf(col("_n")).as("w")))),
        lit(0.0), (acc, x) => acc + x.getField("w")).as("_z"))
    val quota = counts.crossJoin(broadcast(z))
      .select(col(stratumCol),
        floor(col("_tot").cast(DoubleType) * targetFraction * wOf(col("_n"))
          / col("_z")).as("_k"))
    quotaCut(df, idCol, stratumCol, quota)
  }

  // ------------------------------------------------ sequence packing

  /** Sequence packing: concatenate each shard's documents in id order
    * and cut fixed token-budget context windows — the concat-and-chunk
    * packing used to build pre-training batches (docs may span window
    * boundaries). Emits one row per (doc, window) overlap with the
    * doc's token slice inside that window (`end_in_window` exclusive).
    *
    * The shard column is the scale unit: each shard packs
    * independently inside its own window partition, so at 100 TB you
    * pack per (split, shard) and never build a global total order —
    * the running sum is one shuffle on the shard key. Pure integer
    * arithmetic throughout: exact in both engines. */
  def packWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, shardCol: String,
                  budget: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = df.select(col(shardCol), col(idCol),
        tokenCount(col(textCol)).cast(LongType).as("_n_toks"))
      .withColumn("_cum_end", sum(col("_n_toks")).over(w))
      .withColumn("_cum_start", col("_cum_end") - col("_n_toks"))
    // zero-token doc: start == end lands sequence() on a DESCENDING
    // range (start > stop) emitting bogus rows where the oracle's
    // range() emits none — guard so empty docs emit no window rows.
    // Unreachable via tokens() today (split yields >= 1 element) but
    // a public operator can't depend on the tokenizer's floor.
    cum.select(col(shardCol), col(idCol), col("_cum_start"), col("_cum_end"),
        explode(when(col("_n_toks") > 0, sequence(
          floor(col("_cum_start") / budget),
          floor((col("_cum_end") - 1) / budget)))).as("window_id"))
      .select(col(shardCol), col("window_id"), col(idCol),
        (greatest(col("_cum_start"), col("window_id") * budget)
          - col("window_id") * budget).as("start_in_window"),
        (least(col("_cum_end"), (col("window_id") + 1) * budget)
          - col("window_id") * budget).as("end_in_window"))
  }

  /** Packing-efficiency report: per-shard window count, doc count,
    * packed token mass, tail waste (empty tokens in the final,
    * necessarily partial window) and fill fraction. By [[packWindows]]
    * construction every non-final window is exactly full (PropertySpec
    * asserts conservation + fullness), so tail_waste < budget per
    * shard — this report is the pipeline-health view a packing job
    * gates on (a fill_frac well below 1 means shards are too small
    * for the window budget). Pure integer math plus one final
    * round-6 division; aggregates over the (doc, window) overlap
    * frame — same single shuffle as the packing itself. */
  def packReport(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, shardCol: String,
                 budget: Int): org.apache.spark.sql.DataFrame =
    packWindows(df, idCol, textCol, shardCol, budget)
      .groupBy(col(shardCol))
      .agg(
        countDistinct(col("window_id")).as("n_windows"),
        countDistinct(col(idCol)).as("n_docs"),
        sum(col("end_in_window") - col("start_in_window")).as("token_mass"))
      .select(col(shardCol), col("n_windows"), col("n_docs"), col("token_mass"),
        (col("n_windows") * budget - col("token_mass")).as("tail_waste"),
        round(col("token_mass").cast(DoubleType)
          / (col("n_windows") * budget).cast(DoubleType), 6).as("fill_frac"))

  // ------------------------------------------------ chunking / blocklist

  /** Sliding-window chunking with overlap: cut each document's token
    * stream into windows of `window` tokens starting every `stride`
    * tokens (stride < window ⇒ consecutive chunks overlap by
    * window − stride tokens) — the RAG / context-window prep that
    * turns documents into retrievable passages. One row per
    * (doc, chunk) with the chunk's token span and re-joined text.
    *
    * Scale: pure scan-stage math — a `sequence` of the chunk starts,
    * one `posexplode`, `slice` on the already-split token array. No
    * shuffle, no join; the fan-out is ~n_tokens/stride per doc. A doc
    * shorter than one window yields exactly one (possibly short)
    * chunk. Integer arithmetic + string ops only: exact in both
    * engines. */
  def chunkWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, window: Int,
                   stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toked = df.select(col(idCol), tokens(col(textCol)).as("_toks"))
    toked
      .select(col(idCol), col("_toks"),
        posexplode(sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)),
          lit(stride))).as(Seq("chunk_idx", "start_tok")))
      .select(col(idCol), col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        size(slice(col("_toks"), col("start_tok") + 1, lit(window)))
          .cast(LongType).as("chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), col("start_tok") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Per-document blocklist report: occurrences (with multiplicity)
    * of any blocklist term among the whitespace tokens, plus the
    * keep/drop flag — the toxicity/NSFW/boilerplate term-filter shape
    * every curation pipeline runs. `where(!blocked)` is the filter;
    * keeping the hit count makes the cut auditable. Scan-stage column
    * math (the blocklist is a literal array — at 100 TB a large
    * blocklist becomes a broadcast join on the exploded token, same
    * result); no shuffle. */
  def blocklistHits(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    terms: Seq[String]): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
      size(filter(tokens(col(textCol)), x => x.isInCollection(terms)))
        .cast(LongType).as("n_blocked"))
      .withColumn("blocked", col("n_blocked") > 0)

  // ------------------------------------------------ relevance / vocab

  /** Exploded per-(doc, term) counts — the base frame for TF-IDF,
    * BM25 and vocabulary stats. Shuffle key (doc, term) is
    * high-cardinality; partial aggregation runs map-side. */
  def termCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))

  /** Unigram-frequency "commonness" score per document: the mean,
    * over token occurrences, of the token's corpus frequency in parts
    * per million — the frequency-based cousin of CCNet-style LM
    * quality filtering (docs dominated by tokens the corpus has never
    * seen — OCR noise, gibberish, boilerplate IDs — score low; fluent
    * prose scores high). No ln(): the score is pure exact-double
    * rational arithmetic (count·1e6 stays < 2^53) plus a decimal-exact
    * occurrence sum, so it hash-matches across engines where a log
    * would be at the mercy of libm's last ulp.
    *
    * Scale: one term aggregate (vocab-sized), an equi-join back on the
    * high-cardinality term key, a single-row total broadcast, one
    * per-doc aggregate — the TF-IDF shuffle shape. */
  def commonnessScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                      textCol: String): org.apache.spark.sql.DataFrame = {
    val tc = termCounts(df, idCol, textCol)
    val global = tc.groupBy(col("term")).agg(sum(col("tf")).as("_cnt"))
    val tot = global.agg(sum(col("_cnt")).as("_total"))
    val j = tc.join(global, Seq("term"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), col("tf"),
        (col("_cnt").cast(DoubleType) * lit(1000000.0)
          / col("_total").cast(DoubleType)).as("_freq"))
    // floor(x·1e6 + 0.5)/1e6 instead of round(x, 6): the mean is a
    // division with an unbounded decimal expansion, and the engines'
    // round() dialects disagree on boundary values (7/5000 rows at
    // sf0.1 flipped by exactly 1e-6) — floor over identical doubles
    // cannot (the quantizeInt8 recipe).
    val mean = graft.core.Det.dsum(col("tf") * col("_freq"), 6) / sum(col("tf"))
    j.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        (floor(mean * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("commonness"))
  }

  /** Pointwise-mutual-information co-occurrence pairs over the
    * corpus' top-V vocabulary: for terms w1 < w2,
    * pmi = ln(N · docs(w1,w2) / (docs(w1) · docs(w2))) — the
    * collocation / topic-affinity signal (PMI > 0 ⇒ the pair
    * co-occurs more than independence predicts). Doc-level distinct
    * occurrence counts, so a term repeated inside one doc counts
    * once (the standard document-PMI estimator).
    *
    * Scale: the self-join that enumerates pairs runs AFTER the
    * vocabulary cut, so per-doc fanout is ≤ min(distinct terms, V)²/2
    * and the pair key space is ≤ V² — both bounded by the vocabulary
    * parameter, never by corpus size. The top-V vocabulary is a
    * distributed TakeOrdered (orderBy + limit) broadcast to the scan;
    * N is a 1-row broadcast cross (the tx_commonness shape). All PMI
    * inputs are exact integers; the single ln runs over a
    * bit-identical double in both engines and is floor-quantized at
    * 1e-6 (the bigram-LM recipe). */
  def pmiCooccur(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, vocabSize: Int = 64,
                 minPairDocs: Long = 2): org.apache.spark.sql.DataFrame = {
    val docTerms = df.select(col(idCol),
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
      .distinct()
    val nDocs = df.select(col(idCol)).agg(count(lit(1)).as("n_docs"))
    val vocab = docTerms.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term")).limit(vocabSize)
    // the vocab-filtered frame feeds BOTH sides of the pair self-join;
    // without materialization each side re-derives the explode from
    // the raw text (5 scans of the corpus in the executed plan).
    // persist (recomputable, spills to disk) rather than
    // localCheckpoint: ft is ≤ vocabSize rows PER DOC, i.e. O(N·V)
    // total — bounded per-doc but linear in corpus size, so it must
    // not be pinned unrecoverable on executor storage at scale.
    val ft = docTerms.join(broadcast(vocab), Seq("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = ft.select(col(idCol), col("term").as("w1"), col("df").as("df1"))
    val b = ft.select(col(idCol), col("term").as("w2"), col("df").as("df2"))
    a.join(b, Seq(idCol)).where(col("w1") < col("w2"))
      // df1/df2 are functions of w1/w2 — riding them through the
      // group keys avoids a join back onto the vocab
      .groupBy(col("w1"), col("w2"), col("df1"), col("df2"))
      .agg(count(lit(1)).as("c12"))
      .where(col("c12") >= minPairDocs)
      .crossJoin(broadcast(nDocs))
      .select(col("w1"), col("w2"), col("c12"),
        (floor(log((col("c12").cast(DoubleType) * col("n_docs")) /
            (col("df1").cast(DoubleType) * col("df2"))) * lit(1000000.0)
          + lit(0.5)) / lit(1000000.0)).as("pmi"))
  }

  /** Per-(doc, bigram) counts — the bigram analogue of
    * [[termCounts]]. Empty tokens (regexp-split artifacts around
    * leading whitespace) are dropped BEFORE pairing so the bigram
    * stream runs over real adjacent tokens. */
  def bigramCounts(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame =
    df.select(col(idCol),
        filter(tokens(col(textCol)), t => length(t) > 0).as("_t"))
      .where(size(col("_t")) >= 2)
      .select(col(idCol), explode(expr(
        // slice is 1-based; transform's i is the 0-based position in
        // the slice == the 0-based position of w1 in _t, so _t[i + 1]
        // (0-based getItem) is the adjacent successor.
        "transform(slice(_t, 1, size(_t) - 1), (w, i) -> struct(w AS w1, _t[i + 1] AS w2))"
      )).as("_p"))
      .select(col(idCol), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy(col(idCol), col("w1"), col("w2")).agg(count(lit(1)).as("tf"))

  /** Bigram language-model fluency score (the CCNet-style "perplexity
    * filter", self-trained): per document, the mean over bigram
    * occurrences of ln p(w2|w1) under an add-α smoothed bigram model
    * estimated from the corpus itself —
    * p(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·V), with c(w1·) the
    * bigram-context count and V the corpus unigram vocabulary size.
    * Gibberish/OCR noise pairs tokens the corpus never pairs and
    * scores far below fluent prose; the score is the standard
    * pretraining quality gate alongside [[commonnessScore]].
    *
    * Determinism: each per-bigram contribution tf·ln(·) is computed
    * over bit-identical doubles in both engines, quantized at 1e-8 by
    * the decimal sum, and the final mean is floor-quantized at 1e-6
    * (the bm25/commonness recipe — libm last-ulp noise cannot move a
    * 1e-8 grid point across a 1e-6 boundary).
    *
    * Scale: one explode → per-(doc,bigram) pre-aggregation (map-side
    * partial), corpus counts as a second aggregate over DISTINCT
    * bigrams, context counts as a w1-window over that (distinct-w2
    * fan-in per context is vocabulary-bounded, so no key carries more
    * than |V| rows), one equi-join back on the high-cardinality
    * (w1,w2) key, V on a broadcast single-row aggregate. No driver
    * data, no all-pairs anything. */
  def bigramLmScore(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String,
                    alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = bigramCounts(df, idCol, textCol)
    val cb = tc.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("_cb"))
    val cw = cb.withColumn("_cw",
      sum(col("_cb")).over(Window.partitionBy(col("w1"))))
    val vocab = df.select(
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
      .agg(count_distinct(col("term")).as("_v"))
    val contrib = tc.join(cw, Seq("w1", "w2"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("tf"),
        (col("tf").cast(DoubleType) *
          log((col("_cb").cast(DoubleType) + lit(alpha)) /
              (col("_cw").cast(DoubleType) + lit(alpha) * col("_v").cast(DoubleType))))
          .as("_c"))
    val mean = graft.core.Det.dsum(col("_c"), 8) / sum(col("tf"))
    contrib.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        (floor(mean * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("lm_score"))
  }

  /** Held-out bigram-LM perplexity — the PROPER language-model eval
    * (train on the ≥`testBelowPerMille` LCG split, score the rest):
    * unseen bigrams fall back to the add-alpha smoothing floor via
    * LEFT joins against the trained (w1,w2) and w1-context counts;
    * per-doc scores use [[bigramLmScore]]'s scale-8 decimal-sum +
    * 1e-6 floor recipe; the per-language report aggregates with the
    * long-quanta mean and emits ppl = exp(−mean) floor-quantized.
    * Scale shape: model = two term-keyed aggregates, scoring = two
    * term-keyed LEFT joins + one doc aggregate — nothing new beyond
    * the self-trained path. */
  def lmPerplexityEval(df: org.apache.spark.sql.DataFrame, idCol: String,
                       textCol: String, langCol: String,
                       alpha: Double = 0.5, testBelowPerMille: Int = 200)
      : org.apache.spark.sql.DataFrame = {
    val bucketed = df.select(col(idCol), col(langCol), col(textCol),
      sampleBucket(col(idCol)).as("_sb"))
    val tr = bucketed.where(col("_sb") >= testBelowPerMille)
    val te = bucketed.where(col("_sb") < testBelowPerMille)
    val trTc = bigramCounts(tr, idCol, textCol)
    val cb = trTc.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("_cb"))
    val cw = cb.groupBy(col("w1")).agg(sum(col("_cb")).as("_cw"))
    val vocab = tr.select(
        explode(filter(tokens(col(textCol)), t => length(t) > 0)).as("term"))
      .agg(count_distinct(col("term")).as("_v"))
    val contrib = bigramCounts(te, idCol, textCol)
      .join(cb, Seq("w1", "w2"), "left")
      .join(cw, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("tf"),
        (col("tf").cast(DoubleType) *
          log((coalesce(col("_cb"), lit(0L)).cast(DoubleType) + lit(alpha)) /
              (coalesce(col("_cw"), lit(0L)).cast(DoubleType)
                + lit(alpha) * col("_v").cast(DoubleType))))
          .as("_c"))
    val mean = graft.core.Det.dsum(col("_c"), 8) / sum(col("tf"))
    val perDoc = contrib.groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        (floor(mean * lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("lm_score"))
    perDoc.join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        graft.core.Det.davgLong(col("lm_score"), 6).as("mean_lm"))
      .select(col(langCol), col("n_docs"), col("mean_lm"),
        (floor(exp(-col("mean_lm")) * 1e6 + 0.5) / 1e6).as("ppl"))
  }

  /** TF-IDF top-k terms per document: tf/dl · ln(N/df), ranked by the
    * round-6 score (so cross-engine last-ulp noise cannot flip the
    * ranking), ties by term. dl and df come from windows over the
    * term-count frame — no second explode, no driver collect; N rides
    * in on a broadcast single-row aggregate. */
  def tfIdfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tc = termCounts(df, idCol, textCol)
    // window ORDER matters for exchange reuse (r15): the term-df
    // window first, the doc-length window LAST — the final top-k
    // window partitions by the doc id too, so it rides the _dl
    // exchange instead of paying a third one (term, id, id → term, id;
    // the two stats are independent, so the values are unchanged)
    val withStats = tc
      .withColumn("_df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("_dl", sum(col("tf")).over(Window.partitionBy(col(idCol))))
      .crossJoin(broadcast(df.agg(count_distinct(col(idCol)).as("_n"))))
    val scored = withStats.withColumn("tfidf",
      round((col("tf") / col("_dl")) * log(col("_n") / col("_df")), 6))
    GroupOps.topKPerGroup(
        scored.select(col(idCol), col("term"), col("tfidf")),
        keys = Seq(idCol),
        order = Seq(col("tfidf").desc, col("term").asc), k = k)
  }

  /** BM25 document ranking for a bag of query terms (k1 = 1.2,
    * b = 0.75, idf = ln(1 + (N − df + ½)/(df + ½))). Per-term
    * contributions are summed decimal-exact (order-independent, the
    * [[graft.core.Det]] scheme) so the score is bit-stable; top-k by
    * the round-6 score. Doc length = whitespace token count (one scan,
    * no window); df/avgdl/N are broadcast-sized aggregates. */
  def bm25TopK(df: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    val withDl = df.select(col(idCol), tokenCount(col(textCol)).cast(LongType).as("_dl"),
      col(textCol))
    val tc = termCounts(withDl, idCol, textCol)
      .where(col("term").isInCollection(queryTerms))
    val dfreq = tc.groupBy("term").agg(count(lit(1)).as("_df"))
    val corpus = broadcast(withDl.agg(count(lit(1)).as("_n"),
      sum(col("_dl")).as("_sumdl")))
    val contrib = tc
      .join(broadcast(dfreq), Seq("term"))
      .join(withDl.select(col(idCol), col("_dl")), Seq(idCol))
      .crossJoin(corpus)
      .withColumn("_idf", log(lit(1.0) +
        (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_contrib", col("_idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          (lit(b) * col("_dl")) / (col("_sumdl") / col("_n")))))
    contrib.groupBy(col(idCol))
      .agg(round(graft.core.Det.dsum(col("_contrib"), 8), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Global vocabulary report: top-k terms by corpus frequency with
    * document frequency; one shuffle on term. */
  def vocabTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int): org.apache.spark.sql.DataFrame =
    termCounts(df, idCol, textCol)
      .groupBy("term")
      .agg(sum(col("tf")).as("n_occurrences"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(k)

  /** Hashing-trick TF embedding (L2-normalized, `nBuckets` dims) —
    * see [[graft.functions.Expressions.HashedTf]]. Pure narrow map;
    * the model-free featurizer that feeds text into the vector stack
    * (LSH retrieval, k-means, semantic dedup). */
  def hashedTf(c: Column, nBuckets: Int = 64): Column =
    graft.functions.Expressions.hashedTf(c, nBuckets)

  /** Character-level Shannon entropy in nats — see
    * [[graft.functions.Expressions.CharEntropy]]. Pure narrow map
    * (runs inside the scan stage); low values flag padding/gibberish. */
  def charEntropy(c: Column): Column =
    graft.functions.Expressions.charEntropy(c)

  /** Token-budget mixing: admit documents per domain until a fixed
    * TOKEN budget is spent (the mixture unit that actually matters
    * for pre-training is tokens, not documents — cf. doc-quota
    * [[balancedMix]]). Deterministic: admission order is the LCG
    * sample bucket then id.
    *
    * Scale shape: a single per-domain running total would serialize
    * each domain onto one window partition, so the budget splits
    * across `nShards` LCG shards — each (domain, shard) runs an
    * independent running-total window over budget/nShards tokens.
    * Parallelism = domains × shards regardless of corpus size, and
    * the spent budget stays within one doc of the target per shard. */
  def tokenBudgetMix(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, domainCol: String,
                     budgetPerDomain: Long, nShards: Int = 4)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetPerDomain >= nShards,
      s"budgetPerDomain=$budgetPerDomain must be >= nShards=$nShards " +
        "(integer split would zero out every shard budget)")
    // shard i gets budget/n plus one of the budget%n remainder tokens
    // (shards 0..rem-1) — the full budget is enforceable, not silently
    // truncated to n*(budget/n)
    val base = budgetPerDomain / nShards
    val rem = budgetPerDomain % nShards
    val w = Window.partitionBy(col(domainCol), col("_shard"))
      .orderBy(col("_bucket"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(idCol), col(domainCol),
        size(tokens(col(textCol))).cast(LongType).as("n_toks"),
        sampleBucket(col(idCol)).as("_bucket"))
      .withColumn("_shard", pmod(col("_bucket"), lit(nShards)))
      .withColumn("_cum", sum(col("n_toks")).over(w))
      .where(col("_cum") <= lit(base) +
        when(col("_shard") < lit(rem.toInt), lit(1L)).otherwise(lit(0L)))
      .select(col(domainCol), col(idCol), col("n_toks"))
  }

  /** BPE tokenizer training — the full merge loop, not just the
    * first-merge statistic ([[graft.QueriesText]] tx_bpe_pairs):
    * `merges` rounds of (count adjacent symbol pairs) → (merge the
    * global argmax pair everywhere, left-to-right non-overlapping) —
    * the Sennrich '16 algorithm. Returns the trained merge table
    * (merge_rank, l, r, merged, n).
    *
    * Scale shape: training runs on the DISTINCT-token VOCABULARY
    * with corpus frequencies (one corpus-wide groupBy, then every
    * round is vocab-sized — the standard trick: BPE statistics only
    * depend on the word-frequency table, which is orders of
    * magnitude smaller than the corpus). Each word's segmentation is
    * carried as a separator-framed string `␟s1␟␟s2␟…` (U+001F unit
    * separator — absent from whitespace-tokenized text), so the
    * merge rewrite is one engine-native `replace` per round: string
    * replace is left-to-right non-overlapping in both Spark and the
    * SQL twin, which is exactly BPE's greedy merge order, and the
    * framing separators make mid-symbol false matches impossible.
    * The per-round argmax is a top-1 row (count desc, pair asc) —
    * the merge decision is inherently sequential and global, so it
    * is the one driver round-trip per round (k rows total). */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               merges: Int): org.apache.spark.sql.DataFrame =
    bpeTrainFull(docs, textCol, merges)._1

  /** [[bpeTrain]] + the trained VOCABULARY frame (tok, freq, seg) --
    * seg is the final separator-framed segmentation after all merges,
    * the artifact [[bpeApply]] tokenizes with. */
  def bpeTrainFull(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   merges: Int)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(merges >= 1, s"merges=$merges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val sep = ""
    val sep2 = sep + sep
    // each round's collect() is an eager point that materializes the
    // CURRENT frame (reading the round before it once via lineage),
    // after which the older round is superseded and freed — a long
    // merge loop holds at most 2 round frames instead of `merges`
    // (ADVICE r12: no external reclaim for library consumers).
    val frames = new graft.core.LoopFrames
    var cur = frames.keep(docs
      .select(explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) >= 1)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      // ␟c␟ per character — regexp_replace is global in both engines
      .withColumn("seg", regexp_replace(col("tok"), "(.)", s"$sep$$1$sep")))
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var r = 1
    var dry = false
    while (r <= merges && !dry) {
      val pairs = cur
        .select(col("freq"), split(trim(col("seg"), sep), sep2).as("syms"))
        .where(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
                      element_at(col("syms"), i + 1).as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("n"))
      // BOUNDED: top-1 row per round (k driver rows total) — the BPE
      // merge decision is a global argmax, inherently sequential
      val best = pairs.orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      // the collect just materialized `cur`; the frame it was derived
      // from is now superseded (kept through the collect so cur's one
      // lineage read of it hit cache)
      frames.settle()
      if (best.isEmpty) dry = true
      else {
        val l = best(0).getString(0); val rr = best(0).getString(1)
        val n = best(0).getLong(2)
        out += ((r, l, rr, l + rr, n))
        cur = frames.keep(cur.withColumn("seg",
            replace(col("seg"), lit(s"$sep$l$sep$sep$rr$sep"), lit(s"$sep$l$rr$sep"))))
        r += 1
      }
    }
    (out.toSeq.toDF("merge_rank", "l", "r", "merged", "n"), cur)
  }

  /** Tokenize with the trained BPE model ([[bpeTrainFull]]'s final
    * vocabulary): per document, the whitespace-token count, the BPE
    * symbol count after the merges, and chars-per-BPE-token (the
    * compression the tokenizer achieves; 1e-6 floor grid). The apply
    * step is ONE equi-join of the doc token stream onto the
    * vocab-sized (tok, n_symbols) table -- at 100 TB the model rides
    * as a broadcast; no per-doc merge loop ever runs at apply time
    * (the segmentations were computed once at train time). Docs
    * whose every token is empty fall back to (0, 0, 0.0). */
  def bpeApply(docs: org.apache.spark.sql.DataFrame, idCol: String,
               textCol: String, merges: Int): org.apache.spark.sql.DataFrame = {
    val sep = "\u001f"
    val sep2 = sep + sep
    val (_, vocab) = bpeTrainFull(docs, textCol, merges)
    val perTok = vocab.select(col("tok"),
      size(split(trim(col("seg"), sep), sep2)).as("_nsym"))
    val toksOf = docs.select(col(idCol),
        length(regexp_replace(col(textCol), "\\s+", "")).as("_nchars"),
        explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) >= 1)
    val ag = toksOf.join(perTok, Seq("tok"))
      .groupBy(col(idCol))
      .agg(max(col("_nchars")).as("_nc"),
        count(lit(1)).as("n_ws_tokens"),
        sum(col("_nsym")).cast(LongType).as("n_bpe_tokens"))
    docs.select(col(idCol)).join(ag, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ws_tokens"), lit(0L)).as("n_ws_tokens"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(coalesce(col("n_bpe_tokens"), lit(0L)) === 0, lit(0.0))
          .otherwise(floor(col("_nc").cast(DoubleType) * 1e6
            / col("n_bpe_tokens") + 0.5) / 1e6).as("chars_per_bpe_token"))
  }

  /** Unrolled SQL twin of [[bpeTrain]] over the `documents` table:
    * one CTE pair (pair-count + argmax, then vocab rewrite) per
    * merge round, every op mirrored — string_split on the ␟␟ frame,
    * replace-based greedy merge, (n DESC, l, r) argmax. */
  def bpeTrainSql(toksSql: String, merges: Int): String =
    s"""WITH ${bpeVocabCtes(toksSql, merges)}
        SELECT merge_rank, l, r, l || r AS merged, n
        FROM (${(1 to merges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")})
        WHERE l IS NOT NULL
        ORDER BY merge_rank"""

  /** The shared CTE chain of [[bpeTrainSql]]: vocabulary v0 and one
    * (x, p, b, v) round per merge, ending at v`merges` — the trained
    * vocabulary any BPE-consuming oracle (train output, apply) joins
    * against. The per-round argmax b$i is an ungrouped min-of-struct
    * aggregate over ('m': -n, l, r) — positional struct comparison =
    * the (n DESC, l, r) tie-break — so it yields EXACTLY one row
    * even when the pair counts run dry (tiny/degenerate corpora
    * where every token is fully merged before `merges` rounds): the
    * row is all-NULL and v$i's CASE carries seg forward unchanged,
    * matching the Scala twins' early stop ([[bpeTrain]] stops,
    * [[bpeApply]] applies the last non-empty vocabulary). The r12
    * LIMIT-1 b$i went EMPTY when dry and the CROSS JOIN emptied the
    * vocabulary, making apply emit (0,0,0.0) for every doc (ADVICE
    * r12); a LEFT JOIN ON TRUE repair was measured pathological in
    * DuckDB (the unrolled CTE chain stopped optimizing — minutes on
    * a 2-row corpus), hence the always-one-row aggregate shape. */
  def bpeVocabCtes(toksSql: String, merges: Int): String = {
    val s1 = "chr(31)"
    val s2 = "chr(31) || chr(31)"
    def round(i: Int): String = {
      val last = s"v${i - 1}"
      s"""x$i AS (SELECT freq, string_split(trim(seg, $s1), $s2) AS syms FROM $last),
          p$i AS (SELECT syms[CAST(j AS INT)] AS l, syms[CAST(j + 1 AS INT)] AS r,
              CAST(sum(freq) AS BIGINT) AS n
            FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS j
                  FROM x$i WHERE len(syms) >= 2)
            GROUP BY 1, 2),
          b$i AS (SELECT $i AS merge_rank, s.l AS l, s.r AS r,
              CAST(-s.m AS BIGINT) AS n
            FROM (SELECT min({'m': -n, 'l': l, 'r': r}) AS s FROM p$i)),
          v$i AS (SELECT tok, freq,
              CASE WHEN b.l IS NULL THEN seg
                   ELSE replace(seg, $s1 || b.l || $s2 || b.r || $s1,
                                     $s1 || b.l || b.r || $s1) END AS seg
            FROM $last CROSS JOIN b$i b)"""
    }
    s"""v0 AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq,
            regexp_replace(tok, '(.)', $s1 || '\\1' || $s1, 'g') AS seg
          FROM (SELECT unnest($toksSql) AS tok FROM documents)
          WHERE length(tok) >= 1 GROUP BY tok),
        ${(1 to merges).map(round).mkString(",\n        ")}"""
  }

  /** SQL twin of [[bpeApply]]: the [[bpeVocabCtes]] chain, then one
    * join of the document token stream onto per-token symbol counts. */
  def bpeApplySql(toksSql: String, merges: Int): String = {
    val s1 = "chr(31)"
    val s2 = "chr(31) || chr(31)"
    s"""WITH ${bpeVocabCtes(toksSql, merges)},
        ptk AS (SELECT tok,
            len(string_split(trim(seg, $s1), $s2)) AS nsym FROM v$merges),
        dt AS (SELECT doc_id,
            length(regexp_replace(text, '\\s+', '', 'g')) AS nchars,
            unnest(list_filter($toksSql, x -> length(x) >= 1)) AS tok
          FROM documents),
        ag AS (SELECT doc_id, max(nchars) AS nc,
            CAST(count(*) AS BIGINT) AS n_ws,
            CAST(sum(nsym) AS BIGINT) AS n_bpe
          FROM dt JOIN ptk USING (tok) GROUP BY doc_id)
        SELECT d.doc_id,
          CAST(coalesce(ag.n_ws, 0) AS BIGINT) AS n_ws_tokens,
          CAST(coalesce(ag.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
          CASE WHEN coalesce(ag.n_bpe, 0) = 0 THEN 0.0
            ELSE floor(CAST(ag.nc AS DOUBLE) * 1000000.0 / ag.n_bpe + 0.5)
              / 1000000.0 END AS chars_per_bpe_token
        FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
        ORDER BY d.doc_id"""
  }

  /** Trained multinomial Naive Bayes language classifier, evaluated
    * on a held-out split — train/predict/eval in one plan, no model
    * file. Hashed-unigram features ([[graft.functions.Expressions.TokenBuckets]]);
    * add-1-smoothed per-(lang, bucket) log-likelihoods and per-lang
    * log-priors are quantized ONCE to exact micro-longs (the DSIR/
    * bigram-LM ln recipe), so every document score is an INTEGER sum
    * and the argmax has no float tie hazard. Returns the confusion
    * matrix (lang, lang_pred, n) over the test split.
    *
    * Scale shape: the trained model is a (langs × nBuckets)-row
    * broadcast table; training is one (lang, bucket) aggregate;
    * prediction joins the broadcast model on the bucket (fanning each
    * token to |langs| rows) and aggregates per (doc, lang) — one
    * doc-keyed shuffle, bounded |langs|² output. */
  def nbLangIdEval(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, langCol: String, nBuckets: Int = 256,
                   testBelowPerMille: Int = 200)
      : org.apache.spark.sql.DataFrame = {
    val bucketed = df.select(col(idCol), col(langCol), col(textCol),
      sampleBucket(col(idCol)).as("_sb"))
    val tr = bucketed.where(col("_sb") >= testBelowPerMille)
    val te = bucketed.where(col("_sb") < testBelowPerMille)
    val langs = tr.select(col(langCol).as("_lang")).distinct()
    val nTr = tr.agg(count(lit(1)).as("_n"))
    val lCnt = langs.agg(count(lit(1)).as("_L"))
    // log-priors: 1-row totals ride back on the |langs|-row counts
    val prior = tr.groupBy(col(langCol).as("_lang")).agg(count(lit(1)).as("_nl"))
      .crossJoin(broadcast(nTr)).crossJoin(broadcast(lCnt))
      .select(col("_lang"),
        floor(log((col("_nl") + lit(1.0)) / (col("_n") + col("_L")))
          * 1e6 + 0.5).cast(LongType).as("_prm"))
    def toks(src: org.apache.spark.sql.DataFrame) =
      graft.core.Tables.spread(src, col(idCol))
        .select(col(idCol), col(langCol),
          explode(graft.functions.Expressions.tokenBuckets(col(textCol), nBuckets))
            .as("_bkt"))
    val tt = toks(tr).select(col(langCol).as("_lang"), col("_bkt"))
    val ct = tt.groupBy("_lang", "_bkt").agg(count(lit(1)).as("_c"))
    val tl = tt.groupBy("_lang").agg(count(lit(1)).as("_tot"))
    // DENSE model table (every (lang, bucket) pair, unseen = smoothed
    // floor) — explode on the langs frame, never a cross join
    val dense = langs
      .select(col("_lang"), explode(sequence(lit(0), lit(nBuckets - 1))).as("_bkt"))
      .join(broadcast(tl), Seq("_lang"))
      .join(broadcast(ct), Seq("_lang", "_bkt"), "left")
      .select(col("_lang"), col("_bkt"),
        floor(log((coalesce(col("_c"), lit(0L)) + lit(1.0))
            / (col("_tot") + lit(nBuckets.toDouble))) * 1e6 + 0.5)
          .cast(LongType).as("_lpm"))
    val scored = toks(te)
      .join(broadcast(dense), Seq("_bkt")) // each token fans to |langs| rows
      .groupBy(col(idCol), col(langCol), col("_lang"))
      .agg(sum(col("_lpm")).as("_s"))
      .join(broadcast(prior), Seq("_lang"))
      .select(col(idCol), col(langCol), col("_lang"),
        (col("_s") + col("_prm")).as("_score"))
    GroupOps.topKPerGroup(scored, Seq(idCol), Seq(col("_score").desc, col("_lang")), 1)
      .groupBy(col(langCol).as("lang"), col("_lang").as("lang_pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** DSIR importance resampling (Xie et al. '23, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how target-domain-like its hashed-unigram feature
    * distribution is, then keep the top-`topN`.
    *
    * Feature map: [[graft.functions.Expressions.TokenBuckets]] — each
    * token instance hashes to one of `nBuckets` buckets. Bag-of-
    * buckets unigram models are estimated add-1-smoothed on the
    * target subset (`groupCol == targetValue`) and on the full raw
    * corpus; a document's importance weight is the log-likelihood
    * ratio  Σ_tokens [ln p_target(bkt) − ln p_raw(bkt)].
    *
    * Determinism: each bucket's log-ratio is floor-quantized once to
    * the 1e-6 grid (the bigram-LM ln recipe) and carried as exact
    * micro-longs; per-document weights are INTEGER sums of those, so
    * ranking and the top-N cut are bit-stable at any parallelism and
    * mirror 1:1 in the DuckDB oracle.
    *
    * Scale shape: the token-level frame reduces by map-side combine
    * into a `nBuckets`-row histogram (1-row totals broadcast back);
    * the per-doc pass joins the BROADCAST 256-row log-ratio table and
    * aggregates on doc id — one doc-keyed shuffle, then TakeOrdered.
    * The exploded token frame is recomputed for the two passes rather
    * than persisted: at 100 TB two parquet scans beat caching a
    * token-level frame several times the input size. */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, groupCol: String, targetValue: String,
                  nBuckets: Int = 256, topN: Int = 200)
      : org.apache.spark.sql.DataFrame = {
    val tb = graft.core.Tables.spread(
        df.select(col(idCol), col(groupCol), col(textCol)), col(idCol))
      .select(col(idCol), col(groupCol),
        explode(graft.functions.Expressions.tokenBuckets(col(textCol), nBuckets))
          .as("bkt"))
    val bc = tb.groupBy("bkt").agg(
      count(lit(1)).as("_cr"),
      sum(when(col(groupCol) === targetValue, 1L).otherwise(0L)).as("_ct"))
    // corpus-level totals: a 1-row broadcast cross (the allowlisted
    // scalar-join pattern), riding on the nBuckets-row histogram
    val tot = bc.agg(sum(col("_cr")).as("_tr"), sum(col("_ct")).as("_tt"))
    val lr = bc.crossJoin(broadcast(tot))
      .select(col("bkt"),
        floor((log((col("_ct") + lit(1.0)) / (col("_tt") + lit(nBuckets.toDouble)))
             - log((col("_cr") + lit(1.0)) / (col("_tr") + lit(nBuckets.toDouble))))
          * 1e6 + 0.5).cast(LongType).as("_lrm"))
    tb.join(broadcast(lr), Seq("bkt"))
      .groupBy(col(idCol), col(groupCol))
      .agg(count(lit(1)).as("n_toks"), sum(col("_lrm")).as("_wm"))
      .orderBy(col("_wm").desc, col(idCol))
      .limit(topN)
      .select(col(idCol), col(groupCol), col("n_toks"),
        (col("_wm").cast(DoubleType) / 1e6).as("weight"))
  }
}
