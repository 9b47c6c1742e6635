package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: nothing here ever compares all n² document pairs.
  * Exact dedup is one hash aggregate; MinHash-LSH only joins documents
  * that collide in a band bucket (the classic shingle → minhash →
  * band → bucket-join pipeline); SimHash reduces a document to one
  * 64-bit signature whose hamming-ball neighbors share band keys.
  */
object Dedup {

  /** Content identity for exact dedup: hash of normalized text. */
  def contentKey(c: Column): Column = md5(lower(c))

  /** Exact dedup: one row per distinct content, keeping the minimum
    * id (deterministic), with the duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(contentKey(col(textCol)).as("content_key"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** URL/domain-level dedup: one row per canonical URL
    * ([[Text.canonicalUrl]] — scheme/www/query/fragment/trailing-slash
    * insensitive), keeping the minimum id. The web-crawl complement
    * to content dedup: recrawls and tracking-parameter variants of
    * the same page collapse BEFORE the text is even compared. One
    * hash aggregate on the canonical key — same scale shape as
    * [[exact]]. */
  def byUrl(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.groupBy(Text.canonicalUrl(col(urlCol)).as("url_key"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_copies"))

  /** Soft dedup: instead of dropping duplicates, every document keeps
    * a sampling weight 1/n_copies of its exact-content group, so the
    * group's total training mass equals one copy (the
    * down-weighting alternative to hard removal). One hash aggregate
    * + a join back on the same key — both sides shuffle on
    * content_key, so AQE co-partitions them; the count side is
    * group-cardinality (usually broadcastable). */
  def softWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol), contentKey(col(textCol)).as("content_key"))
    val counts = keyed.groupBy("content_key").agg(count(lit(1)).as("n_copies"))
    keyed.join(counts, Seq("content_key"))
      .withColumn("weight", floor(lit(1e6) / col("n_copies") + 0.5) / 1e6)
      .select(col(idCol), col("content_key"), col("n_copies"), col("weight"))
  }

  /** (_id, _band, _key) LSH rows for a corpus — the shared front end
    * of self-dedup and incremental dedup. Spread by id BEFORE the
    * signature math (explicit partition count: AQE would coalesce
    * this byte-small but CPU-heavy stage to one task — the r01 31.5s
    * minhash bench entry was exactly that); one compiled band-keys
    * eval per row.
    *
    * The (id, bands) frame is MATERIALIZED before the explode:
    * `posexplode` makes the optimizer infer `size(bands) > 0 AND
    * isnotnull(bands)` (InferFiltersFromGenerate) and push that
    * predicate below the spread exchange into the scan stage — which
    * is single-partition at bench scale — evaluating the signature
    * kernel TWO extra times, serially (measured 3.4 CPU-s pinned to
    * one task per md5-family run at sf0.1). The persisted frame pins
    * the kernel to exactly one eval in the wide post-spread stage; the
    * inferred filter then runs on materialized arrays. */
  private def bandedKeys(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, numHashes: Int, bandSize: Int,
                         poly: Boolean): DataFrame = {
    val bandsExpr =
      if (poly)
        graft.functions.Expressions.minHashBandsPoly(col(textCol), shingleSize, numHashes, bandSize)
      else
        graft.functions.Expressions.minHashBands(col(textCol), shingleSize, numHashes, bandSize)
    // persist, not localCheckpoint: (id, bands) is corpus-row-sized
    // (fixed width per doc, but linear rows) — recomputable spill
    // keeps executor loss survivable; both sides of the band-bucket
    // self-join scan it, so materialization is still right.
    val bands = graft.core.Tables.spread(
        df.select(col(idCol).as("_id"), col(textCol)), col(idCol))
      .select(col("_id"), bandsExpr.as("_bands"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bands.select(col("_id"), posexplode(col("_bands")).as(Seq("_band", "_key")))
  }

  /** MinHash-LSH candidate pairs (a < b), deduplicated across bands.
    * The join key (band index, band hash) is high-cardinality —
    * shuffle-safe at scale; no cross product anywhere.
    *
    * `poly = false` (default) uses the md5 hash family — the form the
    * DuckDB oracle mirrors hex-for-hex. `poly = true` is the engine
    * path for scale: the polynomial/LCG family
    * ([[graft.functions.Expressions.MinHashBandsPoly]]) replaces the
    * 8 md5 compress calls per shingle with a handful of multiplies —
    * and is still exactly SQL-mirrorable (both families keep the full
    * hash-match gate; see dd_minhash_lsh / dd_minhash_lsh64). */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 5, numHashes: Int = 8,
                            bandSize: Int = 2, poly: Boolean = false): DataFrame = {
    // bandedKeys persists the (id, bands) frame internally, so the
    // self-join's two sides re-explode materialized arrays — the
    // signatures are computed once
    val banded = bandedKeys(df, idCol, textCol, shingleSize, numHashes, bandSize, poly)
    val a = banded.select(col("_band"), col("_key"), col("_id").as("a"))
    val b = banded.select(col("_band"), col("_key"), col("_id").as("b"))
    // spread BEFORE the dedup aggregate, not after: the aggregate then
    // RELIES on this exchange's (a,b) hash partitioning, which makes
    // it load-bearing — the optimizer cannot elide it (a repartition
    // that only feeds broadcast joins + a final sort gets removed as
    // redundant, which is how the r6 spread silently died) and AQE
    // never coalesces user-specified repartitions. Downstream
    // consumers (the jaccard verify join — whose kernel Catalyst
    // pushes into the join condition — and CC) inherit the full-width
    // layout from the aggregate.
    val pairs = a.join(b, Seq("_band", "_key")).where(col("a") < col("b"))
      .select("a", "b")
    graft.core.Tables.spread(pairs, col("a"), col("b")).distinct()
  }

  /** Candidate pairs verified with exact shingle Jaccard ≥ threshold
    * (the verify step of near-dedup). */
  def minhashVerifiedPairs(df: DataFrame, idCol: String, textCol: String,
                           threshold: Double, shingleSize: Int = 5,
                           numHashes: Int = 8, bandSize: Int = 2,
                           poly: Boolean = false): DataFrame = {
    val cands = minhashCandidatePairs(df, idCol, textCol, shingleSize, numHashes, bandSize, poly)
    // join the raw texts back (cheaper to move than shingle arrays)
    // and verify with the compiled shingle-jaccard kernel.
    //
    // Spread the PAIRS before the text joins: the candidate frame is
    // byte-small but ShingleJaccard-heavy, so AQE coalesces it to ONE
    // task (316 CPU-s on one thread measured at sf0.1 — VERDICT r05
    // #2). The r6 fix spread AFTER the joins, which stopped working
    // the moment Catalyst pushed the jaccard threshold INTO the
    // broadcast join as a join condition (the kernel then runs in the
    // join stage, in the probe side's 1-partition layout, and the
    // now-empty downstream repartition is optimizer-eliminated ahead
    // of the final sort's range exchange). Repartitioning the probe
    // side itself is robust to that: broadcast joins preserve their
    // streamed side's partitioning, so wherever the kernel lands —
    // join condition or projection — it runs at full width.
    // Both pair AND text sides are spread: AQE broadcast-swaps this
    // join (pairs are KBs), so the TEXTS become the streamed side and
    // the jaccard — which Catalyst pushes into the join condition —
    // runs at the text scan's width. At 100 TB that width is thousands
    // of partitions; at bench scale the corpus is ONE parquet row
    // group, so without the spread the verify serializes onto one
    // task (the r6 spread-after-join fix died when the filter moved
    // into the join). The text spread is the same corpus shuffle
    // bandedKeys already pays for the signature stage.
    val txt = graft.core.Tables.spread(
      df.select(col(idCol).as("_tid"), col(textCol).as("_txt")), col("_tid"))
    val joined = cands
      .join(txt.select(col("_tid").as("a"), col("_txt").as("_ta")), Seq("a"))
      .join(txt.select(col("_tid").as("b"), col("_txt").as("_tb")), Seq("b"))
    joined
      .select(col("a"), col("b"),
        graft.functions.Expressions.shingleJaccard(col("_ta"), col("_tb"), shingleSize)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** X-DD17: LSH estimator-quality report — for every band-candidate
    * pair, the signature-agreement estimate (matching minhash
    * positions / numHashes, the statistic LSH banding implicitly
    * thresholds) next to the exact shingle Jaccard and the absolute
    * error. THE health gate for a banding config on a concrete
    * corpus: if |est − exact| drifts, the band count/size is lying
    * about recall. Candidate pairs only — never all pairs; the
    * per-position signature uses the compiled band kernel with
    * bandSize 1 (md5 of one minhash ≍ the minhash itself), so the
    * estimate costs one compiled eval per doc. est is k/numHashes
    * with numHashes a power of two — exact in both engines. */
  def lshQualityReport(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int = 5, numHashes: Int = 8,
                       bandSize: Int = 4): DataFrame = {
    val cands = minhashCandidatePairs(df, idCol, textCol, shingleSize,
      numHashes, bandSize, poly = false)
    val sigs = graft.core.Tables.spread(
        df.select(col(idCol).as("_sid"), col(textCol).as("_stxt")), col(idCol))
      .select(col("_sid"),
        graft.functions.Expressions.minHashBands(col("_stxt"), shingleSize,
          numHashes, 1).as("_sig"),
        col("_stxt"))
      // persist: carries the full text column — fact-sized, must stay
      // recomputable (scanned by both verify-join sides)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val j = cands
      .join(sigs.select(col("_sid").as("a"), col("_sig").as("_sa"),
        col("_stxt").as("_ta")), Seq("a"))
      .join(sigs.select(col("_sid").as("b"), col("_sig").as("_sb"),
        col("_stxt").as("_tb")), Seq("b"))
    j.select(col("a"), col("b"),
        (aggregate(zip_with(col("_sa"), col("_sb"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _)
          .cast(DoubleType) / numHashes).as("est_jaccard"),
        graft.functions.Expressions.shingleJaccard(col("_ta"), col("_tb"),
          shingleSize).as("exact_jaccard"))
      .withColumn("abs_err", abs(col("est_jaccard") - col("exact_jaccard")))
  }

  /** Duplicate groups — the step that makes near-dedup actionable:
    * connected components over the verified near-dup pair graph
    * assign every document a canonical id (the min doc id of its
    * duplicate group; docs with no near-dup are their own canonical).
    * "Keep one per group" is then `where(NOT is_dup)`. Transitivity
    * is deliberate (a~b, b~c ⇒ one group), matching how large-corpus
    * dedup is actually run. CC reuses the DBSCAN label-propagation
    * kernel — O(log diameter) rounds, shuffle key = doc id.
    */
  def duplicateGroups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleSize: Int = 5,
                      numHashes: Int = 8, bandSize: Int = 2,
                      poly: Boolean = false): DataFrame =
    canonicalGroups(df, idCol,
      // persist: pair-graph-sized (∝ verified near-dup collisions,
      // unbounded at scale); canonicalGroups scans it twice
      minhashVerifiedPairs(df, idCol, textCol, threshold,
          shingleSize, numHashes, bandSize, poly)
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Semantic (embedding-space) duplicate groups: the same
    * pairs→components→canonical pipeline as [[duplicateGroups]], but
    * the pair graph is cosine similarity over LSH-bucketed embeddings
    * ([[Vectors.lshNearDupPairs]]) instead of shingle Jaccard — the
    * dedup that catches paraphrases and translations exact-text
    * methods cannot. Same scale shape end-to-end: hyperplane-bucket
    * candidates, codegen'd cosine verify, large-star/small-star CC. */
  def semanticDupGroups(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        tables: Int = 8, planes: Int = 6): DataFrame =
    canonicalGroups(df, idCol,
      // persist: pair-graph-sized, same rationale as duplicateGroups
      Vectors.lshNearDupPairs(df, idCol, vecCol, dim, threshold, tables, planes)
        .select(col("a"), col("b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Shared tail of the group-canonicalization family: undirect the
    * verified pair graph, run connected components, and give every
    * row its component-min canonical id (rows with no near-dup are
    * their own canonical). */
  private def canonicalGroups(df: DataFrame, idCol: String,
                              pairs: DataFrame): DataFrame = {
    val cc = componentsOf(pairs)
    df.select(col(idCol))
      .join(cc.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_label"), col(idCol)).as("canonical_id"))
      .withColumn("is_dup", col(idCol) =!= col("canonical_id"))
  }

  /** Connected components of an undirected verified-pair graph:
    * (_id, _label) for every node that HAS a (non-self) edge — the
    * shared head of [[canonicalGroups]] and [[dupGroupSizeStats]].
    * Every component has ≥ 2 members by construction: each node in
    * the frame carries an edge to a DISTINCT doc (pair emitters yield
    * a < b), and both endpoints land in the same component. */
  private def componentsOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("a").as("_a"), col("b").as("_b"))
      .unionByName(pairs.select(col("b").as("_a"), col("a").as("_b")))
    val nodes = edges.select(col("_a").as("_id")).distinct()
    Clustering.connectedComponents(nodes, edges)
  }

  /** Duplicate-group size report over a [[duplicateGroups]] /
    * [[semanticDupGroups]] frame: how many groups of each size, and
    * how many documents they hold — the dedup-health view a curation
    * run gates on (a fat tail of giant groups means the threshold or
    * the banding is off; group_size 1 rows are the unduplicated
    * remainder). Two stacked group-cardinality aggregates — nothing
    * detail-sized crosses the wire twice. */
  def dupGroupStats(groups: DataFrame): DataFrame =
    groups.groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"))

  /** [[dupGroupStats]] ∘ [[duplicateGroups]], folded onto the CC frame
    * (r16, §2.3/§2.4): the generic composition joins the corpus spine
    * onto the component labels and then aggregates the FACT-sized
    * per-doc frame twice. But group sizes are fully determined by the
    * component frame alone — every CC component has ≥ 2 members (see
    * [[componentsOf]]), so each id is unique per doc and the
    * group_size = 1 bucket is exactly the docs OUTSIDE the pair
    * graph: count(df) − count(cc). This drops the corpus-spine join
    * AND the corpus-sized canonical_id aggregate from the plan — at
    * scale the only fact-wide work left is the pair generation
    * itself; everything downstream is component-graph-sized. The two
    * 1-row counts cross 1 × 1 (PlanAuditSpec-allowlisted). Result
    * byte-identity with the unfused composition is an executable gate
    * (DedupVectorsSpec) and oracle-checked end-to-end.
    *
    * Precondition: `idCol` is UNIQUE and NON-NULL across `df`. The
    * group_size = 1 bucket is derived as count(df) − Σ group_size,
    * i.e. it counts ROWS while the pair graph counts IDS: a repeated
    * id makes two rows one node, and a null id matches no node, so
    * either silently skews the singleton count. Not checked at run
    * time — a check would cost a job over the corpus; key this on a
    * primary-key column. */
  def dupGroupSizeStats(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleSize: Int = 5,
                        numHashes: Int = 8, bandSize: Int = 2,
                        poly: Boolean = false): DataFrame = {
    val pairs = minhashVerifiedPairs(df, idCol, textCol, threshold,
        shingleSize, numHashes, bandSize, poly)
      .select(col("a"), col("b"))
      // persist: pair-graph-sized, scanned by CC twice (the
      // duplicateGroups rationale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist: the component-size frame feeds BOTH the histogram and
    // the CC-node count (Σ group_size) — unpersisted, each consumer
    // re-derives the whole edges→nodes→CC chain (component-count-
    // sized, recomputable; filled within the query's own action)
    val sizes = componentsOf(pairs)
      .groupBy(col("_label"))
      .agg(count(lit(1)).as("group_size"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hist = sizes.groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
    val singleton = df.agg(count(lit(1)).as("_n"))
      .crossJoin(sizes.agg(sum(col("group_size")).as("_m")))
      .select(lit(1L).as("group_size"),
        (col("_n") - coalesce(col("_m"), lit(0L))).as("n_groups"))
      .where(col("n_groups") > 0)
    hist.unionByName(singleton)
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"))
  }

  /** Asymmetric CONTAINMENT near-dup pairs: C(A→B) = |A∩B| / |A| over
    * the char-shingle sets. Jaccard misses near-SUBSET duplication —
    * a short doc quoted wholesale inside a long one scores
    * |A|/|B| ≈ 0 Jaccard but containment 1.0 — the boilerplate-
    * inclusion / quote-expansion case crawl dedup needs.
    *
    * MinHash-LSH CANNOT generate these candidates (its collision
    * probability IS the Jaccard, which is ~0 for subset pairs — a
    * first-cut implementation banding the usual signatures missed
    * every planted subset pair in ContainmentSpec). The scale-correct
    * candidate stage is PREFIX FILTERING over a global rarity order
    * (the PPJoin family): order each doc's shingles by ascending
    * corpus document-frequency (rarest first, shingle text as the
    * total tie-break), keep each doc's first ⌊(1−t)·n⌋+1 — if
    * C(A→B) ≥ t, not all of A's prefix can miss B (pigeonhole), so
    * joining PREFIX shingles against the full inverted index finds
    * every qualifying pair in either direction. Rarity ordering keeps
    * the join fan-out bounded: prefix shingles are precisely the ones
    * with small document frequency.
    *
    * Verify = exact set intersection on the shingle arrays; both
    * directed containments are int/int divisions — bit-exact across
    * engines, no rounding recipe.
    *
    * The shingle unit is WORD n-grams, not char k-grams: prefix
    * filtering's cost is Σ df(prefix shingle), and char-5-grams on a
    * low-diversity corpus have document frequencies in the hundreds
    * (measured: 136M candidate pairs at sf0.1, 70 s) while word
    * 3-grams over the same corpus max out at df=14 (0.8M candidates,
    * 164× less). Rarity-ordered prefixes only help when the shingle
    * space itself is diverse.
    *
    * Scale: one df aggregate on the shingle key + one rank window per
    * doc (the TF-IDF shuffle shape), candidate join keyed by shingle
    * (work ∝ prefix·df collisions, never |corpus|²), verified pairs
    * only carry shingle arrays. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, ngram: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persist (recomputable, spills) rather than localCheckpoint: the
    // (id, shingle-array) frame is CORPUS-sized — pinning it
    // unrecoverable on executor storage means one executor loss kills
    // the job at scale. It feeds 3 downstream scans (the inverted
    // index + both verify joins), so materialization itself is right.
    val sh = graft.core.Tables.spread(
        df.select(col(idCol).as("_sid"), col(textCol).as("_t")), col("_sid"))
      .select(col("_sid"), Text.wordShingles(col("_t"), ngram).as("_sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ex = sh.select(col("_sid"), explode(col("_sh")).as("_g"))
    val dfreq = ex.groupBy("_g").agg(count(lit(1)).as("_df"))
    val ranked = ex.join(dfreq, Seq("_g"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_sid").orderBy(col("_df"), col("_g"))))
    val prefix = ranked
      .join(sh.select(col("_sid"), size(col("_sh")).as("_n")), Seq("_sid"))
      .where(col("_rn") <= floor((lit(1.0) - threshold) * col("_n")) + 1)
      .select(col("_sid").as("_pa"), col("_g"))
    val cand = graft.core.Tables.spread(
        prefix.join(ex.select(col("_sid").as("_pb"), col("_g")), Seq("_g"))
          .where(col("_pa") =!= col("_pb"))
          .select(least(col("_pa"), col("_pb")).as("a"),
            greatest(col("_pa"), col("_pb")).as("b")),
        col("a"), col("b"))
      .distinct()
    val j = cand
      .join(sh.select(col("_sid").as("a"), col("_sh").as("_sha")), Seq("a"))
      .join(sh.select(col("_sid").as("b"), col("_sh").as("_shb")), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("_sha"), col("_shb"))).as("_inter"),
        size(col("_sha")).as("_na"), size(col("_shb")).as("_nb"))
    j.select(col("a"), col("b"),
        (col("_inter") / col("_na")).as("containment_ab"),
        (col("_inter") / col("_nb")).as("containment_ba"),
        col("_na").cast(LongType).as("na"), col("_nb").cast(LongType).as("nb"))
      .where(col("containment_ab") >= threshold || col("containment_ba") >= threshold)
  }

  /** Keep-BEST canonicalization: where [[duplicateGroups]] keeps the
    * min-id doc of every duplicate group, production curation keeps
    * the highest-QUALITY copy (the cleanest extraction of a page that
    * was crawled five ways). Takes the groups frame and a per-doc
    * score frame; returns one row per group with the kept doc, its
    * score, and the group size — ties broken by min id so the choice
    * is total and engine-independent.
    *
    * Scale: one join on the doc id + one rank window partitioned by
    * canonical_id (high-cardinality — group count ~ doc count), then
    * a group-sized aggregate. Nothing detail-sized is collected or
    * crossed. */
  def keepBestPerGroup(groups: DataFrame, scores: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = groups.select(col(idCol), col("canonical_id"))
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol))
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    joined
      .select(col("canonical_id"), col(idCol), col(scoreCol),
        row_number().over(w).as("_rn"),
        count(lit(1)).over(Window.partitionBy(col("canonical_id"))).as("group_size"))
      .where(col("_rn") === 1)
      .select(col("canonical_id"), col(idCol).as("kept_id"),
        col(scoreCol).as("kept_score"), col("group_size"))
  }

  /** Incremental near-dedup: flag NEW-batch documents that are
    * near-duplicates of an EXISTING corpus — the crawl-ingestion
    * pattern (in production the existing side's band keys are
    * precomputed once and only the batch is hashed per run; here both
    * sides run the same compiled kernel). Band-bucket equi-join
    * batch × existing — candidates ∝ bucket collisions, never
    * |batch| · |existing| — then exact-Jaccard verify. Returns one
    * row per duplicate batch doc with its match count and best
    * Jaccard; anti-join against it admits the clean remainder. */
  def incrementalNearDups(existing: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          shingleSize: Int = 5, numHashes: Int = 8,
                          bandSize: Int = 4, poly: Boolean = true): DataFrame = {
    def bk(df: DataFrame, as: String) =
      bandedKeys(df, idCol, textCol, shingleSize, numHashes, bandSize, poly)
        .withColumnRenamed("_id", as)
    // same load-bearing spread-before-distinct as
    // minhashCandidatePairs: the dedup aggregate pins the full-width
    // layout the downstream Jaccard verify join inherits
    val cand = graft.core.Tables.spread(
        bk(batch, "_new").join(bk(existing, "_old"), Seq("_band", "_key"))
          .select("_new", "_old"), col("_new"), col("_old"))
      .distinct()
    val te = existing.select(col(idCol).as("_old"), col(textCol).as("_to"))
    val tb = batch.select(col(idCol).as("_new"), col(textCol).as("_tn"))
    cand
      .join(tb, Seq("_new")).join(te, Seq("_old"))
      .select(col("_new"), col("_old"),
        graft.functions.Expressions.shingleJaccard(col("_tn"), col("_to"), shingleSize)
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
      .groupBy(col("_new").as(idCol))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("max_jaccard"))
  }

  /** Bloom-filter bit count for an existing-corpus size: ~16 bits per
    * element (k=4 hashes ⇒ false-positive rate ≈ (1−e^−¼)⁴ ≈ 0.24%),
    * rounded up to a power of two, floored at 2^16 and capped at 2^22
    * (0.5 MB of bitmap — broadcastable; past the cap a deployment
    * shards the filter). Log-scaled like planesFor: an
    * order-of-magnitude-correct n gives the same size class. */
  def bloomBitsFor(n: Long): Int = {
    val target = math.max(16L * math.max(n, 1L), 1L << 16)
    val p = 64 - java.lang.Long.numberOfLeadingZeros(target - 1L)
    1 << math.min(p, 22)
  }

  /** Bloom-prefiltered incremental exact dedup — the membership-
    * sketch pattern every content-addressed ingest runs at scale:
    * "have I seen this document before?" answered in the SCAN stage
    * against a fixed-size broadcast bitmap, with the expensive exact
    * key join paid ONLY for the (few) bloom hits.
    *
    *   1. BUILD: the existing corpus's `hashes` deterministic bit
    *      positions per doc (first 6 hex chars of salted
    *      md5(j ++ ":" ++ lower(text)) mod nBits — cross-engine
    *      exact) are OR-merged executor-side into word-level longs
    *      (one `bit_or` aggregate, ≤ nBits/64 rows) and assembled
    *      into ONE driver bitmap — the treeAggregate shape of a real
    *      bloom build, never a per-position driver set.
    *   2. PROBE: every batch doc tests its `hashes` bits against the
    *      broadcast bitmap literal — pure column math, no join, no
    *      shuffle. No false negatives by construction, so a bloom
    *      MISS is a definitive "new document".
    *   3. VERIFY: only bloom-HIT docs join the existing content keys
    *      ([[contentKey]]); `is_dup` = hit ∧ key-match (exact, by the
    *      no-false-negative property), `false_positive` = hit ∧ ¬dup.
    *
    * Returns one row per batch doc: (id, bloom_hit, is_dup,
    * false_positive). nBits auto-scales via [[bloomBitsFor]] (a
    * saturated fixed-size bloom degrades to hit-everything = the
    * unfiltered join, never to wrong answers). BloomDedupSpec pins
    * no-false-negatives, forced false positives at a tiny override,
    * and equality with a join-only reference. */
  def bloomIncremental(existing: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String, hashes: Int = 4,
                       nBitsOverride: Int = -1, nHint: Long = -1L): DataFrame = {
    val nBits =
      if (nBitsOverride > 0) nBitsOverride
      else bloomBitsFor(graft.core.Tables.rowCount(existing, nHint))
    val words = math.max(1, (nBits + 63) / 64)
    def posCol(c: Column, j: Int): Column =
      (conv(substring(md5(concat(lit(s"$j:"), lower(c))), 1, 6), 16, 10)
        .cast(LongType) % nBits).cast(LongType)
    val expos = graft.core.Tables.spread(existing.select(col(textCol)), col(textCol))
      .select(explode(array((0 until hashes).map(j => posCol(col(textCol), j)): _*))
        .as("pos"))
    // word-level OR-merge: the aggregate output is ≤ nBits/64 rows
    // (≤ 65536 longs at the 2^22 cap) REGARDLESS of corpus size
    val wordRows = expos
      .select((col("pos") / 64).cast(LongType).as("w"),
        expr("shiftleft(1L, cast(pos % 64 as int))").as("b"))
      .groupBy("w").agg(expr("bit_or(b)").as("bits"))
      // BOUNDED: ≤ nBits/64 rows by construction (bitmap words)
      .collect()
    val bitmap = new Array[Long](words.toInt)
    wordRows.foreach(r => bitmap(r.getLong(0).toInt) = r.getLong(1))
    val bm = typedlit(bitmap.toIndexedSeq)
    val probed0 = graft.core.Tables.spread(
        batch.select(col(idCol), col(textCol)), col(idCol))
      .withColumn("_bm", bm)
    val probed = (0 until hashes)
      .foldLeft(probed0)((df, j) => df.withColumn(s"_p$j", posCol(col(textCol), j)))
      // coalesce: a NULL text yields NULL probe positions and a NULL
      // bit-test chain — the oracle's count-based hit CTE reads such a
      // row as bloom_hit = false, so both engines must (ADVICE r13)
      .withColumn("bloom_hit", coalesce(
        (0 until hashes).map(j => expr(
          s"(shiftright(element_at(_bm, cast(_p$j div 64 as int) + 1), " +
          s"cast(_p$j % 64 as int)) & 1) = 1")).reduce(_ && _), lit(false)))
      // referenced twice below (the hit-filter branch and the final
      // left join) — persist so the batch spread + 4 md5 probes + bit
      // tests run once per action, not twice (batch-sized,
      // recomputable — the PMI persist recipe, ADVICE r13)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val exKeys = existing.select(contentKey(col(textCol)).as("_k")).distinct()
    // the pre-filter payoff: only HIT rows reach the key join
    val dupIds = probed.where(col("bloom_hit"))
      .select(col(idCol).as("_did"), contentKey(col(textCol)).as("_bk"))
      .join(exKeys, col("_bk") === col("_k"), "left_semi")
      .select(col("_did"))
    probed.join(dupIds, col(idCol) === col("_did"), "left")
      .select(col(idCol), col("bloom_hit"),
        col("_did").isNotNull.as("is_dup"),
        (col("bloom_hit") && col("_did").isNull).as("false_positive"))
  }

  /** Benchmark decontamination: flag training documents that share
    * any word n-gram with a benchmark/eval document — the n-gram
    * overlap rule production pre-training pipelines run before
    * training. Inverted-index shape: both sides explode to their
    * DISTINCT n-grams and meet in an equi-join on the gram, so
    * work ∝ actual overlaps — never all (train × bench) pairs; the
    * exploded benchmark side is broadcast (eval sets are
    * dimension-sized next to a 100 TB corpus). Returns one row per
    * contaminated training doc with the shared-gram and bench-doc
    * counts — `anti join` against it is the clean-corpus filter. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 4): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        explode(Text.wordShingles(col(textCol), n)).as("gram"))
    // spread the big side before the shingle explode: the input is
    // byte-small but the gram expansion is CPU-heavy, so AQE would
    // coalesce it to one task (the standing r01 minhash trap)
    grams(graft.core.Tables.spread(train, col(idCol)), idCol)
      .join(broadcast(grams(bench, "bench_id")), Seq("gram"))
      .groupBy(col(idCol))
      .agg(count_distinct(col("gram")).as("n_shared_grams"),
        count_distinct(col("bench_id")).as("n_bench_docs"))
  }

  /** Cross-document duplicated-span coverage (the MassiveText-style
    * "fraction of text inside duplicated n-grams" signal, computed
    * CORPUS-WIDE rather than within one document — [[Text.dupNgramFraction]]
    * is the within-doc sibling): a token position is covered when it
    * lies inside any word n-gram that occurs more than once in the
    * whole corpus; the score is covered positions / total tokens.
    * High coverage flags boilerplate (headers, license blocks,
    * templated pages) that exact and near dedup both miss because the
    * surrounding document differs.
    *
    * Scale shape: positional n-grams are a narrow scan-stage explode
    * (rows = tokens); the global occurrence count is one hash
    * aggregate with map-side partials; only DUPLICATED grams (a small
    * fraction of a healthy corpus) explode into positions, then a
    * (doc, position) distinct + per-doc count. Nothing is ever
    * all-pairs and no driver state exists. The (id, tokens) frame is
    * materialized once so the gram projection isn't re-evaluated
    * below the exchange by InferFiltersFromGenerate (NOTES r7 rule:
    * explode after an expensive projection). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 8): DataFrame = {
    val (base, covered) = repeatedNgramCover(df, idCol, textCol, n)
    base.select(col(idCol), col("n_tokens"))
      .join(covered.groupBy(idCol).agg(count(lit(1)).as("_ncov")), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        fraction(coalesce(col("_ncov"), lit(0L)), col("n_tokens")).as("dup_span_fraction"))
  }

  // ------------------------------------ repeated-unit core of the rewrites

  /** The values of `units`' column `unit` that occur more than once. */
  private def repeated(units: DataFrame, unit: String): DataFrame =
    units.groupBy(unit).agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") > 1).select(unit)

  /** The token base (id, _toks, n_tokens) and its covered positions
    * (id, _p): the distinct positions inside any word `n`-gram that
    * occurs more than once corpus-wide. The base persists, not
    * localCheckpoints: it is strictly LARGER than the input corpus, and
    * recomputable spill-to-disk keeps executor loss survivable at scale
    * (the PMI recipe, Text.scala). */
  private def repeatedNgramCover(df: DataFrame, idCol: String, textCol: String,
                                 n: Int): (DataFrame, DataFrame) = {
    val base = graft.core.Tables.spread(
        df.select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
          .withColumn("n_tokens", size(col("_toks")).cast(LongType)),
        col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = base.select(col(idCol), posexplode(
        when(col("n_tokens") >= n,
          expr(s"transform(sequence(0, int(n_tokens) - $n), i -> concat_ws(' ', slice(_toks, i + 1, $n)))"))
          .otherwise(array().cast(ArrayType(StringType)))).as(Seq("_pos", "_gram")))
    val covered = grams.join(repeated(grams, "_gram"), Seq("_gram"))
      .select(col(idCol), explode(sequence(col("_pos"), col("_pos") + lit(n - 1))).as("_p"))
      .distinct()
    (base, covered)
  }

  /** (id, clean_text, `total`, n_removed, removed_fraction): each
    * document of `counts` (id, `total` units) rebuilt from its `kept`
    * (id, `pos`, `unit`) rows in position order; "" if none is kept. */
  private def orderedRebuild(counts: DataFrame, kept: DataFrame, idCol: String,
                             pos: String, unit: String, total: String): DataFrame = {
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col(pos), col(unit)))),
          s => s.getField(unit)), " ").as("clean_text"),
        count(lit(1)).as("_nkept"))
    val removed = col(total) - coalesce(col("_nkept"), lit(0L))
    counts.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col(total),
        removed.as("n_removed"),
        fraction(removed, col(total)).as("removed_fraction"))
  }

  /** `num` / `den` rounded half-up to 1e-6, 0 when `den` is 0. */
  private def fraction(num: Column, den: Column): Column =
    when(den === 0, lit(0.0)).otherwise(
      floor(num.cast(DoubleType) * 1e6 / den + 0.5) / 1e6)

  /** CCNet/Gopher-style LINE-level dedup as a REWRITE: drop every
    * segment (line) whose exact text occurs more than `maxCount`
    * times corpus-wide, and rebuild each document from its kept
    * segments in order — the boilerplate-stripping pass (headers,
    * nav bars, license blocks) production pre-training pipelines run
    * before document-level dedup. The reference corpora segment on
    * newlines; this corpus is flat word soup, so the segment unit is
    * parameterized as fixed `segTokens`-token windows (the rewrite
    * machinery — global count, order-preserving reassembly, removal
    * report — is identical either way).
    *
    * Scale shape: segmentation is a narrow scan-stage transform
    * (segments ∝ tokens/W); the global count is one hash aggregate
    * with map-side partials; the rebuild is one per-doc aggregate
    * ordered by segment position. No all-pairs anywhere, no driver
    * state; the (id, segments) frame persists recomputable
    * (MEMORY_AND_DISK) for its two scans. */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
                   segTokens: Int = 10, maxCount: Long = 1): DataFrame = {
    val w = segTokens
    val base = graft.core.Tables.spread(
        df.select(col(idCol), Text.tokens(col(textCol)).as("_toks")), col(idCol))
      .select(col(idCol),
        when(size(col("_toks")) >= 1,
          expr(s"transform(sequence(0, int(ceil(size(_toks) / $w.0)) - 1), " +
            s"i -> concat_ws(' ', slice(_toks, i * $w + 1, $w)))"))
          .otherwise(array().cast(ArrayType(StringType))).as("_segs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val segs = base.select(col(idCol), posexplode(col("_segs")).as(Seq("_pos", "_seg")))
    val counts = segs.groupBy("_seg").agg(count(lit(1)).as("_cnt"))
    val kept = segs.join(counts, Seq("_seg")).where(col("_cnt") <= maxCount)
    orderedRebuild(
      base.select(col(idCol), size(col("_segs")).cast(LongType).as("n_segments")),
      kept, idCol, "_pos", "_seg", "n_segments")
  }

  /** Exact-substring dedup as a REWRITE (the MassiveText-style pass:
    * REMOVE every token run that is part of a corpus-wide duplicated
    * exact n-gram, then reassemble what remains in order).
    * [[dupSpanCoverage]] reports the covered fraction; this operator
    * actually cuts the spans: a token position is dropped iff it lies
    * inside any word n-gram occurring more than once corpus-wide —
    * the union of overlapping duplicated n-grams is exactly the set
    * of maximal duplicated runs ≥ n tokens, so anchored n-grams +
    * overlap-union implements "drop duplicate runs ≥ n" without ever
    * materializing arbitrary-length runs. Returns (id, clean_text,
    * n_tokens, n_removed, removed_fraction).
    *
    * Scale shape: positional n-grams and positional tokens are
    * narrow scan-stage explodes (rows ∝ tokens); the global gram
    * count is one hash aggregate with map-side partials; only
    * DUPLICATED grams (small in a healthy corpus) expand into
    * covered positions; the kept-position anti-join keys on
    * (doc, position) and the rebuild is one per-doc ordered
    * aggregate (doc-length-bounded, the [[segmentDedup]] mechanism
    * generalized from fixed windows to anchored spans). No
    * all-pairs, no driver state. */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 8): DataFrame = {
    val (base, covered) = repeatedNgramCover(df, idCol, textCol, n)
    val positions = base.select(col(idCol), posexplode(col("_toks")).as(Seq("_p", "_tok")))
    val kept = positions.join(covered, Seq(idCol, "_p"), "left_anti")
    orderedRebuild(base.select(col(idCol), col("n_tokens")), kept, idCol, "_p", "_tok", "n_tokens")
  }

  /** Content-defined chunking (the FastCDC/LBFS idea applied to
    * text): chunk boundaries fall where a w-char rolling Horner hash
    * (mod [[graft.functions.Expressions.PolyP]]) is ≡ 0 mod
    * `divisor`, so boundaries are a pure function of LOCAL content —
    * insert a byte early in a document and the chunking RE-SYNCS at
    * the next boundary, unlike fixed windows (CdcSpec proves the
    * resync). Expected chunk length ≈ divisor chars. Returns one row
    * per chunk (id, chunk_idx, clen, ctext).
    *
    * Everything is native higher-order functions (aggregate /
    * filter / transform — codegen'd, scan-stage, no UDF, no custom
    * expression): per-position window fold is O(len·w) per doc,
    * bounded by doc length. ASCII/BMP corpus bound documented (ascii
    * ↔ unicode() twin parity). */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
                w: Int = 16, divisor: Int = 64): DataFrame = {
    val chunksCol = cdcChunksCol(col(textCol), w, divisor)
    graft.core.Tables.spread(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), posexplode(chunksCol).as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx"),
        col("_c.clen").as("clen"), col("_c.ctext").as("ctext"))
  }

  /** The per-document chunk array (struct clen, ctext) — shared by
    * [[cdcChunks]] and [[cdcDedup]]. One compiled O(len) rolling-hash
    * pass ([[graft.functions.Expressions.CdcChunks]]); the first cut
    * of this operator composed native higher-order functions
    * (filter/aggregate window folds) and was ~two orders slower —
    * lambdas evaluate interpretively per ELEMENT (O(len·w) per doc),
    * exactly the Expressions.scala header warning. */
  private def cdcChunksCol(textCol: Column, w: Int, divisor: Int): Column =
    graft.functions.Expressions.cdcChunks(textCol, w, divisor)

  /** CDC-based storage-dedup report: per document, how many of its
    * bytes live in chunks whose exact text occurs more than once
    * CORPUS-WIDE — the dedup ratio a content-addressed store would
    * achieve on this corpus (and the cross-document boilerplate
    * signal at chunk rather than n-gram granularity;
    * [[substringDedup]] is the token-window sibling).
    *
    * Scale shape: chunking is a narrow scan-stage pass; the chunk
    * count is one hash aggregate with map-side partials over rows ∝
    * chunks; only chunk-text groups with count > 1 join back. No
    * all-pairs, no driver state. */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
               w: Int = 16, divisor: Int = 64): DataFrame = {
    // persist, not localCheckpoint: (id, chunks) is corpus-sized,
    // recomputable — the repeatedNgramCover rule
    val base = graft.core.Tables.spread(
        df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol), length(lower(col(textCol))).cast(LongType).as("n_bytes"),
        cdcChunksCol(col(textCol), w, divisor).as("_chunks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ch = base.select(col(idCol), explode(col("_chunks")).as("_c"))
      .select(col(idCol), col("_c.clen").as("clen"), col("_c.ctext").as("ctext"))
    val dupBytes = ch.join(repeated(ch, "ctext"), Seq("ctext"))
      .groupBy(col(idCol)).agg(sum(col("clen")).as("_dup"))
    base.select(col(idCol), size(col("_chunks")).cast(LongType).as("n_chunks"),
        col("n_bytes"))
      .join(dupBytes, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"), col("n_bytes"),
        coalesce(col("_dup"), lit(0L)).as("dup_bytes"),
        fraction(coalesce(col("_dup"), lit(0L)), col("n_bytes")).as("dedup_ratio"))
  }

  /** 64-bit SimHash per document (md5-derived token hashes, sign-of-
    * sum bits) via the compiled SimHash64 expression: one narrow map,
    * no explode/shuffle. Not oracle-mirrorable; covered by DedupSpec. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Tables.spread(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        graft.functions.Expressions.simHash64(col(textCol)).as("simhash"))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a hamming radius, by pigeonhole
    * block join (Manku/Jain/Sarma '07 shape): the 64-bit signature
    * splits into `nBlocks` contiguous 16-bit blocks; any two
    * signatures within hamming distance `radius` ≤ nBlocks−1 agree
    * on at least one whole block, so candidates are the equi-join on
    * (block index, block value) — never an all-pairs compare — and
    * the exact popcount(xor) gate then verifies. Candidate volume is
    * ∝ block-value collisions (random signatures spread over 2^16
    * values per block), the same collision-bounded shape as the
    * MinHash band join. Output: (a, b, hamming) verified pairs. */
  def simhashHamPairs(df: DataFrame, idCol: String, textCol: String,
                      radius: Int = 3): DataFrame = {
    // persist, not localCheckpoint: (id, simhash) is corpus-row-sized
    // (narrow — one long per doc) and feeds both sides of the block
    // join; recomputable + spills, never pinned (the r11 persist rule).
    val sig = simhash64(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    hammingPairs64(sig, idCol, "simhash", radius)
  }

  /** Hamming-radius pairs over ANY precomputed 64-bit signature
    * column, by the pigeonhole block join ([[simhashHamPairs]]'s
    * candidate machinery, shared with the image perceptual-hash
    * path): 4 × 16-bit blocks, radius ≤ 3 ⇒ some block matches
    * exactly, popcount(xor) verifies. */
  def hammingPairs64(sig: DataFrame, idCol: String, hashCol: String,
                     radius: Int = 3): DataFrame = {
    val nBlocks = 4 // 4 × 16-bit blocks; pigeonhole covers radius ≤ 3
    require(radius < nBlocks,
      s"pigeonhole cover needs nBlocks > radius but nBlocks=$nBlocks, radius=$radius")
    val keys = (0 until nBlocks).map(i =>
      shiftright(col(hashCol), 16 * i).bitwiseAND(lit(65535L)))
    val blocks = sig.select(col(idCol), col(hashCol),
      posexplode(array(keys: _*)).as(Seq("blk", "key")))
    val x = blocks.select(col(idCol).as("a"), col(hashCol).as("_ha"),
      col("blk"), col("key"))
    val y = blocks.select(col(idCol).as("b"), col(hashCol).as("_hb"),
      col("blk"), col("key"))
    x.join(y, Seq("blk", "key"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("_ha"), col("_hb"))
      .distinct() // a pair may collide in several blocks
      .select(col("a"), col("b"), hamming64(col("_ha"), col("_hb")).as("hamming"))
      .where(col("hamming") <= radius)
  }
}
