package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is hot.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin.enabled`,
  * on by default here) splits oversized shuffle partitions at
  * runtime and is the first line of defense. This utility is the
  * explicit fallback for the cases AQE cannot rescue (e.g. one
  * literal key holding 30% of a 100 TB fact table): salt the skewed
  * (large) side into `factor` sub-keys and replicate the build side
  * once per salt, restoring a uniform shuffle.
  *
  * Semantics are identical to `left.join(right, keys, joinType)` for
  * inner/left joins on equi-keys; SkewSpec asserts equality.
  */
object Skew {

  /** Inner/left equi-join with a salted large side and a replicated
    * small side. `factor` ≈ number of sub-splits for the hottest key.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
                 factor: Int, joinType: String = "inner"): DataFrame = {
    require(factor > 0)
    require(Seq("inner", "left", "left_outer").contains(joinType),
      "salting preserves semantics for inner/left equi-joins")
    val salted = large.withColumn("_salt",
      (rand(seed = 7) * factor).cast("int"))
    val replicated = small.withColumn("_salt",
      explode(array((0 until factor).map(lit): _*)))
    salted.join(replicated, keys :+ "_salt", joinType).drop("_salt")
  }

  /** Executable pre-flight: runs [[skewReport]] on the join key and
    * picks the strategy from it — the plain join when the key
    * distribution is near-uniform, [[saltedJoin]] with a DERIVED
    * factor otherwise — so the report→remedy decision is code, not a
    * human reading a dashboard. The decision metric is LANES, not the
    * report's max/mean ratio (which reads ~2 on a two-key table whose
    * hot key holds 99.9% of the rows): a hash shuffle pins each key
    * to one of P lanes, so the hottest key demands ceil(share · P)
    * lanes of capacity; when that is ≥ `minSaltLanes` the key is
    * split that many ways (clamped to `maxFactor`), otherwise the
    * plain join stands. The report read is one bounded driver action
    * (top-1 row) — the same pre-flight cost class as a broadcast-
    * threshold probe. Returns the join AND the chosen factor
    * (1 = plain) so callers can log the decision; the OUTPUT is
    * decision-independent (SkewSpec asserts equality on uniform, hot
    * and multi-key distributions). */
  def autoJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
               joinType: String = "inner", minSaltLanes: Double = 4.0,
               maxFactor: Int = 64): (DataFrame, Int) = {
    // NULL components must stay distinguishable: concat_ws SKIPS
    // nulls, collapsing ('x', null) and (null, 'x') onto one
    // composite and distorting the top-1 share the salt decision
    // reads (ADVICE r10). Route each component through coalesce with
    // a \u0000 sentinel so a null occupies its slot (a literal
    // "\u0000" string key colliding with null is accepted -- the cost
    // is an over-estimated share, i.e. the safe/salting direction).
    val (keyed, keyCol) =
      if (keys.size == 1) (large, keys.head)
      else (large.withColumn("_ck",
        concat_ws("\u0001",
          keys.map(k => coalesce(col(k).cast("string"), lit("\u0000"))): _*)),
        "_ck")
    val top = skewReport(keyed, keyCol, topK = 1)
      // BOUNDED: top-1 row of the skew report
      .select("share").collect()
    val share = top.headOption.map(_.getDouble(0)).getOrElse(0.0)
    val parallelism = large.sparkSession.sparkContext.defaultParallelism
    val lanes = math.ceil(share * parallelism).toInt
    val factor = if (lanes < minSaltLanes) 1 else math.min(maxFactor, lanes)
    val joined =
      if (factor <= 1) large.join(small, keys, joinType)
      else saltedJoin(large, small, keys, factor, joinType)
    (joined, factor)
  }

  /** Key-skew diagnostics: the report that decides whether a join/agg
    * key needs [[saltedJoin]] (or a coarser key) BEFORE burning a
    * cluster run on it. One group-cardinality count aggregate, a
    * distributed top-k (orderBy+limit = TakeOrdered — the full counts
    * frame is never globally sorted), and a single-row totals frame
    * riding back on a broadcast:
    *
    *   rank | key | n | share | n_keys | skew_ratio
    *
    * `share` = key's fraction of all rows; `skew_ratio` = max group
    * size / mean group size (1.0 = perfectly uniform; ≫ 1 = salt it).
    * Exact integer counts, round-6 ratios, ties by key string — fully
    * oracle-mirrorable. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum(col("n")).as("_rows"), count(lit(1)).as("n_keys"),
      max(col("n")).as("_max"))
    val top = counts.orderBy(col("n").desc, col("key")).limit(topK)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("key"))).cast("long"))
    ranked.crossJoin(broadcast(totals))
      .select(col("rank"), col("key"), col("n"),
        round(col("n").cast("double") / col("_rows").cast("double"), 6).as("share"),
        col("n_keys"),
        round(col("_max").cast("double") * col("n_keys").cast("double")
          / col("_rows").cast("double"), 6).as("skew_ratio"))
      .orderBy("rank")
  }
}
