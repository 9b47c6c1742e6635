package graft

/** Whole-registry physical-plan audit: no query may plan a
  * CartesianProduct, and BroadcastNestedLoopJoin is allowed only
  * where the build side is dimension-sized by construction. This is
  * the scale gate that catches a future operator accidentally
  * regressing to an unbucketed theta join. */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose BNLJ is a deliberate dimension/scalar broadcast:
    * - ss_topk_bruteforce: the declared O(n·q) ANN baseline
    *   (broadcast query set × corpus);
    * - tx_tfidf / tx_bm25: a single-row corpus-stats aggregate rides
    *   in on a broadcast cross join;
    * - m3_iqr_outlier_clean: the per-bin IQR boundary frame (nBins
    *   rows) joins on a range predicate;
    * - tx_domain_mix: the single-row achievable-corpus minimum
    *   C = min(n/w) rides back onto the stratum-count frame (stratum
    *   cardinality × 1 row) before quotas broadcast to the detail.
    * - ep2_flagship: contains the m3 IQR stage; its nBins-row
    *   boundary-frame range join became visible to the audit when the
    *   bench/verify path stopped checkpointing the final frame
    *   (flagship dump=false, r6) — same deliberate BNLJ as
    *   m3_iqr_outlier_clean.
    * - tx_temperature_mix: the single-row (N, Σ√n) normalizer rides
    *   back onto the stratum-count frame (stratum cardinality × 1
    *   row), same shape as tx_domain_mix's minimum.
    * - a19_skew_report: the single-row totals frame rides back onto
    *   the ≤topK heavy-hitter rows.
    * - tx_commonness: the single-row corpus-total rides back onto the
    *   term-count frame (same shape as tx_tfidf's N).
    * - m10_triangles: the 1-row degree-totals frame crosses the 1-row
    *   triangle count for the final report — 1 × 1 by construction.
    * - ss_recall_report: embeds the declared brute-force ANN baseline
    *   (the same broadcast query-set × corpus as ss_topk_bruteforce)
    *   as the ground truth the LSH recall is measured against.
    * - a20_concentration: the 1-row revenue total rides back onto the
    *   supplier-revenue frame (key-cardinality × 1 row — the a19
    *   shape).
    * - tx_bigram_lm: the single-row vocabulary-size aggregate V rides
    *   back onto the per-(doc,bigram) frame (the tx_commonness /
    *   tx_tfidf N shape).
    * - tx_pmi_cooccur: the single-row corpus-size aggregate N rides
    *   back onto the ≤V² pair frame (the tx_commonness N shape). */
  private val bnljAllowed = Set(
    "ss_topk_bruteforce", "tx_tfidf", "tx_bm25", "m3_iqr_outlier_clean",
    "tx_domain_mix", "tx_temperature_mix", "a19_skew_report", "tx_commonness",
    "ep2_flagship", "m10_triangles", "ss_recall_report", "a20_concentration",
    "tx_bigram_lm", "tx_pmi_cooccur",
    // tx_ccnet_buckets: the single-row tercile-boundary frame
    // (round-6 percentiles) rides back on a broadcast cross before
    // the bucket comparison — the tx_domain_mix shape
    "tx_ccnet_buckets",
    // tx_dsir: the single-row corpus token totals (Tt, Tr) ride back
    // onto the nBuckets-row histogram (256 × 1 row) — the
    // tx_commonness N shape
    "tx_dsir",
    // ss_mips_topk: the single-row max-norm M² rides back onto the
    // corpus for the augmented coordinate — corpus × 1 row, the
    // tx_tfidf N shape
    "ss_mips_topk",
    // tx_nb_langid: the 1-row train-count and 1-row lang-count frames
    // ride back onto the |langs|-row prior — the a19/tx_commonness
    // shape
    "tx_nb_langid",
    // ev_psi_drift: the 1-row histogram totals ride back onto the
    // 10-row decile spine — the a19 shape
    "ev_psi_drift",
    // tx_lm_perplexity: the 1-row train-vocabulary aggregate rides
    // back onto the test bigram frame — the tx_bigram_lm V shape
    "tx_lm_perplexity",
    // tx_domain_overlap: the #domains-row vocab-size frame crosses
    // itself on src_a < src_b for the #domains² pair spine —
    // dimension × dimension by definition (r14)
    "tx_domain_overlap",
    // ev_survival_km: the 1-row global max-ts observation end rides
    // back onto the user-cardinality duration frame — the a19/tfidf
    // 1-row shape (r14)
    "ev_survival_km",
    // a24_benford_report: the 1-row total rides onto the 9-row digit
    // spine — the ev_psi_drift shape (r14)
    "a24_benford_report",
    // ev_bootstrap_ci: the 1-row user-count frame rides onto the
    // user-totals frame for the LCG modulus (the tx_tfidf N shape,
    // r15); the ci_lo/ci_hi picks are 1-row LEFT joins on a literal
    // key (degenerate-input parity, ADVICE r14)
    "ev_bootstrap_ci",
    // dd_group_stats: the 1-row corpus count crosses the 1-row CC-node
    // count for the singleton bucket (1 × 1 by construction — the
    // m10_triangles shape; r16 fused stats path)
    "dd_group_stats")

  /** Queries whose empty-partition-spec WindowExec runs over a frame
    * PROVABLY bounded by construction (a TakeOrdered top-k, a
    * fixed-cardinality report frame) — never the fact table. An
    * unbounded-input global window moves every row through ONE task:
    * the scale gate this rule mechanizes after r8's audit found two
    * (m5_reindex, a20_concentration — both since rewritten). */
  private val globalWindowAllowed: Map[String, String] = Map(
    "a19_skew_report" ->
      "rank over the ≤topK (10) heavy-hitter frame AFTER the distributed orderBy+limit (TakeOrdered)",
    "dd_threshold_sweep" ->
      "reverse cumulative count over the threshold histogram: ≤21 rows by the 0.05 bin grid",
    "ev_drift_tv" ->
      "day-over-day lag over the per-day report frame: cardinality = distinct calendar days (metadata-sized at any data scale)",
    "m5_reindex" ->
      "cumulative offsets over the per-partition counts frame: ≤ numShufflePartitions rows by construction (operators/Reindex)",
    "ev_survival_km" ->
      "risk-set/ln-sum cumulatives over the per-duration report frame: cardinality = distinct whole-hour durations within the observation window (metadata-sized at any data scale — the ev_drift_tv per-day shape)",
    "ev_bootstrap_ci" ->
      "resample-mean ranking over exactly B=200 rows (the user indexing is the Reindex partition-offset pattern since r15 — its own global window runs over the ≤numShufflePartitions counts frame, the m5_reindex shape)")

  /** Queries that deliberately funnel the RETURNED frame through a
    * single-partition SHUFFLE (the other way a plan serializes
    * besides a global window). Currently none: the registry's only
    * repartition(1) uses are side-effect SINK writes over
    * metadata/report-sized frames (delete-key lists, report csvs),
    * which run as separate jobs and never appear in the audited
    * plan. Any future entry must be provably bounded and justified
    * here. */
  private val singlePartitionAllowed: Map[String, String] = Map.empty

  /** All physical nodes, descending through AQE wrappers and
    * subqueries (an AdaptiveSparkPlanExec is a leaf to collect()). */
  private def physicalNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val kids = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case other => other.children
    }) ++ p.subqueries
    p +: kids.flatMap(physicalNodes)
  }

  test("no CartesianProduct anywhere; BNLJ only where allowlisted; no ScalaUDF; no unbounded global window") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.window.WindowExec
    val offenders = scala.collection.mutable.ArrayBuffer[String]()
    // each query's build-time caches are freed before the next query
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) => reclaimed {
      val qe = fn(spark, sf001).queryExecution
      val plan = qe.executedPlan.toString
      if (plan.contains("CartesianProduct"))
        offenders += s"$name: CartesianProduct"
      if (plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name))
        offenders += s"$name: BroadcastNestedLoopJoin"
      // interpreted black-box UDFs are banned from every registry
      // query: anything scalar must be a codegen'd Expression (the
      // r8 HealpixCoverDisk closure compiled away the last one); the
      // only sanctioned escape hatch is the non-registry
      // GroupApply.groupApplyExact, which wraps a USER closure
      val hasUdf = qe.analyzed.collect { case n => n.expressions }.flatten
        .exists(_.exists(_.isInstanceOf[ScalaUDF]))
      if (hasUdf) offenders += s"$name: ScalaUDF"
      // empty partition spec = the whole input through one window
      // task; only provably bounded frames may do that
      val globalWins = physicalNodes(qe.executedPlan).collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      if (globalWins.nonEmpty && !globalWindowAllowed.contains(name))
        offenders += s"$name: global WindowExec (${globalWins.size})"
      // a single-partition SHUFFLE serializes the frame through one
      // task — same scale-killer as a global window, different node
      val singleParts = physicalNodes(qe.executedPlan).collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
      }
      if (singleParts.nonEmpty && !singlePartitionAllowed.contains(name))
        offenders += s"$name: SinglePartition exchange (${singleParts.size})"
    }}
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
