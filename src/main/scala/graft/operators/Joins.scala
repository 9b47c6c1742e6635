package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational join operators from the reference (SURVEY §2.3). */
object Joins {

  /** J1: metadata ⋈ sources inner equi-join (dataset.py:206-246
    * merge_metadata_to_sources): project the requested metadata
    * columns (wildcard-aware) plus the join key, then broadcast-join
    * onto the source table — metadata is one row per file, always the
    * small side.
    */
  def mergeMetadataToSources(sources: DataFrame, metadata: DataFrame,
                             metadataCols: Seq[String], joinOn: String): DataFrame = {
    Tables.requireCols(sources, Seq(joinOn))
    Tables.requireCols(metadata, Seq(joinOn))
    val meta = Tables.wildcardSelect(metadata, metadataCols :+ joinOn)
    sources.join(broadcast(meta), joinOn)
  }

  /** J2: left join attaching counterpart columns under a suffix
    * (_objtable_methods.py:97-99, :131-133: pandas suffixes=['','_ps1']).
    * Non-key right columns colliding with left names get `suffix`.
    */
  def suffixJoin(left: DataFrame, right: DataFrame, on: Seq[String],
                 suffix: String, joinType: String = "left"): DataFrame = {
    val renamed = right.columns.foldLeft(right) { (df, c) =>
      if (!on.contains(c) && left.columns.contains(c))
        df.withColumnRenamed(c, c + suffix)
      else df
    }
    left.join(renamed, on, joinType)
  }

  /** J6: IRSA-style side-table join (metadata.py:81-84): dedup the
    * remote table first to avoid row blowup, then inner equi-join.
    * `broadcastSide = true` suits the reference's case (metadata
    * fetched only for the EXPIDs in the query — always small); pass
    * false for fact-sized side tables and let AQE pick the shuffle
    * strategy.
    */
  def dedupJoin(df: DataFrame, side: DataFrame, on: Seq[String],
                broadcastSide: Boolean = true): DataFrame = {
    val deduped = side.dropDuplicates()
    df.join(if (broadcastSide) broadcast(deduped) else deduped, on)
  }

  /** X-J14: Bloom-prefiltered semi join — the runtime-filter pattern
    * made explicit. Build a Bloom filter over the (filtered) dimension
    * keys (one dimension-sized aggregate; the filter is KBs even for
    * millions of keys), probe it INSIDE the fact scan stage (compiled
    * [[graft.functions.Expressions.BloomMightContainLong]] — no UDF,
    * fuses into the scan's codegen span), then an exact left-semi join
    * removes the false positives. Output is exactly the semi join; the
    * difference is WHERE rows die: at 100 TB, a 1%-selective join
    * shuffles ~1% of the fact table instead of all of it, because
    * non-matching rows are dropped before the exchange. Spark's own
    * runtime row-level Bloom filters apply only under narrow planner
    * preconditions; this operator is the same physics under explicit
    * control. No false negatives by Bloom construction, so the
    * prefilter can never change the result — only the bytes moved. */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    fpp: Double = 0.01): DataFrame = {
    Tables.requireCols(fact, Seq(factKey))
    Tables.requireCols(dim, Seq(dimKey))
    val keys = dim.select(col(dimKey)).dropDuplicates()
    // expectedNumItems: exact distinct-key count (dimension-sized
    // aggregate — cheap next to the fact scan it accelerates)
    val n = keys.count()
    // empty dimension: semi join is empty; also stat.bloomFilter NPEs
    // on a zero-row frame (null aggregation buffer)
    if (n == 0) return fact.where(lit(false))
    val bloom = keys.stat.bloomFilter(dimKey, n, fpp)
    fact
      .where(graft.functions.Expressions.bloomMightContain(
        col(factKey).cast("long"), bloom))
      .join(keys.withColumnRenamed(dimKey, factKey), Seq(factKey), "left_semi")
  }
}
