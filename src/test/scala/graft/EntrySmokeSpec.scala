package graft

/** t1-style smoke: every registered query runs at sf0.001; flagship
  * entry returns rows. */
class EntrySmokeSpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys are consistent") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
    assert(Queries.all.map(_.name).distinct.size == Queries.all.size)
  }

  /** Queries whose EMPTY result would mean a broken pipeline, not
    * sparse data, even at sf0.001 (the r02 wellCal=0 incident slipped
    * through a rows>=0 smoke). Spatially-sparse ops (m1 lattice
    * pairs, minhash pair lists) legitimately go empty at sf0.001 and
    * stay on the >=0 check. */
  private val mustBeNonEmpty = Set(
    "ep2_flagship", "ep1_pruned_load", "s1_file_scan",
    "a3_group_stats", "a6_quality_table", "tpch_q3ish", "tpch_q5ish",
    "tx_token_count", "tx_langid", "tx_hash_split", "tx_corpus_stats",
    "dd_exact", "dd_dup_groups", "dd_simhash",
    "ss_topk_bruteforce", "ss_topk_lsh", "ss_topk_ivf",
    "st_hourly_counts", "st_dedup_first")

  Queries.all.foreach { q =>
    test(s"smoke ${q.name}") {
      // freed after each query, so no query reads another's caches
      val n = reclaimed(q.fn(spark, sf001).count())
      if (mustBeNonEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
      else assert(n >= 0)
    }
  }
}
