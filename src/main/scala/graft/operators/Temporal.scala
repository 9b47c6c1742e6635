package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal join operators Spark lacks natively: as-of join and
  * interval (range) containment join.
  *
  * Scale design: neither ever becomes a broadcast-nested-loop or a
  * per-row range scan.
  *   - [[asofJoin]] is the union+running-last formulation: one shuffle
  *     on the join key, one window pass — O(n log n) per key group,
  *     both sides arbitrarily large.
  *   - [[rangeJoin]] buckets time into fixed-width cells; an interval
  *     joins only the points in the cells it covers (candidates ∝
  *     true matches when width ≈ interval length), an equi-join on the
  *     cell id. Both sides can be fact-sized.
  */
object Temporal {

  /** First name in `base`, `base_`, `base__`, … free in BOTH frames —
    * internal working columns must never capture a same-named user
    * column. */
  private def fresh(base: String, taken: Set[String]): String =
    Iterator.iterate(base)(_ + "_").dropWhile(taken).next()

  /** As-of join: for each left row, the latest right row with
    * `right.ts <= left.ts` and the same key (ties on ts broken by the
    * largest `tieBreak` — deterministic, engine-independent).
    *
    * Result = all left columns + the right `payload` columns suffixed
    * (`ts` -> `ts<suffix>` etc.), null when no right row precedes.
    *
    * Implementation: tag right rows 0 / left rows 1, union, and take
    * `last(payload, ignoreNulls)` over
    * (key ORDER BY ts, tag, tieBreak ROWS UNBOUNDED PRECEDING..CURRENT).
    * At equal ts the right row sorts first, so the inclusive (`<=`)
    * semantics hold; among equal-ts right rows the largest tieBreak is
    * the running last. One shuffle, no range explosion — the classic
    * scalable as-of shape (what a MergeJoin-based ASOF also does).
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               payload: Seq[String], tieBreak: String,
               suffix: String = "_r"): DataFrame = {
    val leftCols = left.columns.toSeq
    val taken = leftCols.toSet ++ right.columns
    val cTag = fresh("_tag", taken)
    val cOrd = fresh("_ord", taken)
    val cPay = fresh("_pay", taken)
    val cAsof = fresh("_asof", taken)
    val payStruct = struct((ts +: payload).map(col): _*)
    val ordT = right.schema(tieBreak).dataType
    // join-semantics NULL keys, handled on BOTH sides before the
    // shuffle: NULL-key right rows can never match (null-unsafe
    // equality) — dropped; NULL-key LEFT rows would all hash into ONE
    // window partition (the classic skew key at scale) only to come
    // back null-padded — so they bypass the union entirely and
    // re-enter below with a null payload
    val rAligned = right.where(col(key).isNotNull).select(
      leftCols.map { c =>
        if (c == key || c == ts) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(lit(0).as(cTag), col(tieBreak).as(cOrd),
        payStruct.as(cPay)): _*)
    val lAligned = left.where(col(key).isNotNull).select(
      leftCols.map(col) ++ Seq(lit(1).as(cTag),
        lit(null).cast(ordT).as(cOrd),
        lit(null).cast(rAligned.schema(cPay).dataType).as(cPay)): _*)
    val w = Window.partitionBy(key).orderBy(col(ts), col(cTag), col(cOrd))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = rAligned.unionByName(lAligned)
      .withColumn(cAsof, last(col(cPay), ignoreNulls = true).over(w))
      .where(col(cTag) === 1)
      .select(leftCols.map(col) ++ (ts +: payload).map(p =>
        col(s"$cAsof.$p").as(s"$p$suffix")): _*)
    val payT = rAligned.schema(cPay).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val nullKeyed = left.where(col(key).isNull)
      .select(leftCols.map(col) ++ (ts +: payload).map(p =>
        lit(null).cast(payT(p).dataType).as(s"$p$suffix")): _*)
    matched.unionByName(nullKeyed)
  }

  /** Nearest-event join (both directions): for each left row, the
    * right row of the same key with the SMALLEST |Δt| — past or
    * future. The sensor-alignment primitive [[asofJoin]] (backward
    * only) can't express.
    *
    * One union + TWO window passes over the SAME hash partitioning
    * (key): a running-`last` frame (preceding..current) over ts ASC
    * yields the latest right row at-or-before, and the same
    * running-`last` frame over ts DESC yields the earliest right row
    * at-or-after — one shuffle, two sorts, zero joins, both frames
    * O(n) incremental (never the O(n²)
    * currentRow..unboundedFollowing frame). (The previous
    * formulation recombined two as-of passes
    * with an inner equi-join on all left columns, which dropped
    * left rows containing NULLs — null-unsafe equality — and fanned
    * out duplicate left rows; the window form preserves every input
    * row per-position, so neither hazard exists.)
    *
    * Ties: equal |Δt| prefers the past row; within a side, equal-ts
    * right rows resolve to the largest `idCol` (the as-of
    * running-last rule, both directions).
    *
    * NULL keys follow join (null-unsafe) equality: NULL-key right
    * rows match nothing and NULL-key left rows come back null-padded.
    * Internal working columns are generated collision-free against
    * both schemas. */
  def nearestJoin(left: DataFrame, right: DataFrame, key: String,
                  ts: String, idCol: String, suffix: String = "_n"): DataFrame = {
    val leftCols = left.columns.toSeq
    val taken = leftCols.toSet ++ right.columns
    val cTag = fresh("_tag", taken)
    val cOrd = fresh("_ord", taken)
    val cPay = fresh("_pay", taken)
    val cB = fresh("_b", taken)
    val cF = fresh("_f", taken)
    val payStruct = struct(col(ts).as("ts"), col(idCol).as("id"))
    val ordT = right.schema(idCol).dataType
    // join-semantics NULL keys on both sides, like asofJoin: right
    // nulls match nothing; left nulls bypass the shuffle (skew) and
    // re-enter null-padded below
    val rAligned = right.where(col(key).isNotNull).select(
      leftCols.map { c =>
        if (c == key || c == ts) col(c)
        else lit(null).cast(left.schema(c).dataType).as(c)
      } ++ Seq(lit(0).as(cTag), col(idCol).as(cOrd),
        payStruct.as(cPay)): _*)
    val lAligned = left.where(col(key).isNotNull).select(
      leftCols.map(col) ++ Seq(lit(1).as(cTag),
        lit(null).cast(ordT).as(cOrd),
        lit(null).cast(rAligned.schema(cPay).dataType).as(cPay)): _*)
    // backward: right (tag 0) sorts BEFORE left at equal ts -> `<=`
    // inclusive; running last among equal-ts right rows = largest _ord
    val wB = Window.partitionBy(key)
      .orderBy(col(ts).asc, col(cTag).asc, col(cOrd).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // forward: the SAME running-last shape over ts DESCENDING (a
    // currentRow..unboundedFollowing frame would be Spark's
    // UnboundedFollowingWindowFunctionFrame — O(n²) per key group,
    // a hot key would go quadratic). Scanning latest-ts-first, the
    // running last at a left row is the right row with the smallest
    // ts >= left.ts; right rows sort before left at equal ts
    // (inclusive `>=`), and among equal-ts right rows _ord ASC makes
    // the largest _ord the running last — both ties match wB's rules
    val wF = Window.partitionBy(key)
      .orderBy(col(ts).desc, col(cTag).asc, col(cOrd).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val both = rAligned.unionByName(lAligned)
      .withColumn(cB, last(col(cPay), ignoreNulls = true).over(wB))
      .withColumn(cF, last(col(cPay), ignoreNulls = true).over(wF))
      .where(col(cTag) === 1)
    val dB = unix_micros(col(ts)) - unix_micros(col(s"$cB.ts"))
    val dF = unix_micros(col(s"$cF.ts")) - unix_micros(col(ts))
    val pickBack = col(s"$cB.id").isNotNull &&
      (col(s"$cF.id").isNull || dB <= dF)
    val matched = both.select(leftCols.map(col) ++ Seq(
      when(pickBack, col(s"$cB.id")).otherwise(col(s"$cF.id"))
        .as(s"$idCol$suffix"),
      when(pickBack, col(s"$cB.ts")).otherwise(col(s"$cF.ts"))
        .as(s"$ts$suffix"),
      when(pickBack, dB).otherwise(dF).as("diff_us"),
      when(pickBack, lit(0L)).otherwise(
        when(col(s"$cF.id").isNotNull, lit(1L))).as("side")): _*)
    val nullKeyed = left.where(col(key).isNull)
      .select(leftCols.map(col) ++ Seq(
        lit(null).cast(ordT).as(s"$idCol$suffix"),
        lit(null).cast(left.schema(ts).dataType).as(s"$ts$suffix"),
        lit(null).cast(LongType).as("diff_us"),
        lit(null).cast(LongType).as("side")): _*)
    matched.unionByName(nullKeyed)
  }

  /** Interval containment join: every (point, interval) pair with
    * `start <= point_ts < end`. Bucketed equi-join: points land in one
    * `bucketSeconds`-wide cell, intervals explode into the cells they
    * cover, the join key is the cell id, and the exact predicate
    * filters the candidates. A point meets an interval in exactly one
    * cell (its own), so no dedup pass is needed. Pick `bucketSeconds`
    * near the typical interval length: candidates stay O(matches).
    */
  def rangeJoin(points: DataFrame, ptTs: String,
                intervals: DataFrame, startCol: String, endCol: String,
                bucketSeconds: Long): DataFrame = {
    val cell = floor(col(ptTs).cast(DoubleType) / bucketSeconds).cast(LongType)
    val cells = sequence(
      floor(col(startCol).cast(DoubleType) / bucketSeconds).cast(LongType),
      floor(col(endCol).cast(DoubleType) / bucketSeconds).cast(LongType))
    points.withColumn("_cell", cell)
      .join(intervals.withColumn("_cell", explode(cells)), Seq("_cell"))
      .where(col(ptTs) >= col(startCol) && col(ptTs) < col(endCol))
      .drop("_cell")
  }

  /** Interval × interval OVERLAP join: every (a, b) pair with
    * `a.start < b.end AND b.start < a.end`. Like [[rangeJoin]] both
    * sides explode into the fixed-width time cells they cover and
    * equi-join on the cell id — but an overlapping pair shares EVERY
    * cell the overlap spans, so the naive form emits duplicates. The
    * claim-cell rule dedups for free: a pair is emitted only in the
    * cell containing `max(a.start, b.start)` (the overlap's first
    * instant — inside both intervals, hence a cell both sides
    * exploded into, and unique per pair). No distinct pass, no
    * shuffle beyond the cell equi-join, candidates ∝ cells covered. */
  def intervalOverlapJoin(a: DataFrame, aStart: String, aEnd: String,
                          b: DataFrame, bStart: String, bEnd: String,
                          bucketSeconds: Long): DataFrame = {
    def cells(s: String, e: String) = sequence(
      floor(col(s).cast(DoubleType) / bucketSeconds).cast(LongType),
      floor(col(e).cast(DoubleType) / bucketSeconds).cast(LongType))
    val ae = a.withColumn("_cell", explode(cells(aStart, aEnd)))
    val be = b.withColumn("_cell", explode(cells(bStart, bEnd)))
    ae.join(be, Seq("_cell"))
      .where(col(aStart) < col(bEnd) && col(bStart) < col(aEnd) &&
        col("_cell") === floor(greatest(col(aStart), col(bStart))
          .cast(DoubleType) / bucketSeconds).cast(LongType))
      .drop("_cell")
  }

  /** Rolling z-score anomaly detection: each observation is scored
    * against the TRAILING `window` observations of its own key
    * (current row excluded — a spike must not dilute the history it
    * is judged against). z = (x − mean)/std over that frame; rows
    * with fewer than `minHistory` predecessors or a degenerate
    * (zero-variance) history carry a null z and are never flagged.
    * The monitoring primitive for metric streams: one keyed window,
    * no self-join, no global state.
    *
    * Determinism: the frame's mean and std come from exact decimal
    * window sums (the ev_rolling_mean recipe extended with the
    * [[graft.core.Det.dstd]] identity), so both engines feed the
    * same doubles into the one IEEE division; z is emitted on the
    * round-6 grid.
    *
    * Scale: a single hash exchange on the key; every frame is
    * O(window) rows regardless of corpus size. */
  def rollingAnomaly(df: DataFrame, keyCol: String, tsCol: String,
                     tieCol: String, valCol: String,
                     window: Int = 8, minHistory: Int = 4,
                     k: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-window, -1)
    val n = count(lit(1)).over(w)
    val s1 = sum(col(valCol).cast(DecimalType(30, 6))).over(w).cast(DoubleType)
    val s2 = sum((col(valCol) * col(valCol)).cast(DecimalType(30, 6)))
      .over(w).cast(DoubleType)
    val nD = n.cast(DoubleType)
    val mean = s1 / nD
    val std = sqrt(greatest(lit(0.0), (s2 - s1 * s1 / nD) / (nD - lit(1.0))))
    val z = when(n >= minHistory && std > 0.0,
      round((col(valCol) - mean) / std, 6))
    // zero-variance history (exactly constant on the decimal grid):
    // any departure is an infinite z — flag it, with z left null.
    // coalesce keeps is_anomaly non-null even for NULL observations
    // (val =!= mean is NULL then, and false || NULL would leak it)
    val degenerate = coalesce(
      n >= minHistory && std === 0.0 && col(valCol) =!= mean, lit(false))
    df.select(col(keyCol), col(tsCol), col(tieCol), col(valCol))
      .withColumn("z", z)
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > k, lit(false)) || degenerate)
  }

  /** Cohort retention matrix: users cohorted by the DATE of their
    * first event; for each (cohort_date, bucket offset) the distinct
    * users still active, the cohort size, and the retention share.
    *
    * Scale shape: one user-keyed aggregate (first-seen date), one
    * user-keyed join back onto the stream (both sides shuffle on the
    * same key — AQE co-partitions; the first-seen side is
    * user-cardinality, often broadcastable), then a distinct +
    * aggregate whose output is bounded by cohorts × offsets. All
    * arithmetic is integer dates/counts; the single share division
    * uses the floor(x·1e6+0.5) emission recipe. */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      bucketDays: Int = 7): DataFrame = {
    val first = events.groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("cohort_date"))
    val offsets = events.join(first, Seq(userCol))
      .select(col(userCol), col("cohort_date"),
        floor(datediff(to_date(col(tsCol)), col("cohort_date")) / lit(bucketDays.toDouble))
          .cast(LongType).as("week_offset"))
      .distinct()
    val counts = offsets.groupBy("cohort_date", "week_offset")
      .agg(count(lit(1)).as("n_users"))
    val wCohort = Window.partitionBy("cohort_date")
    counts
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_users"))).over(wCohort))
      .withColumn("retention",
        floor(col("n_users").cast(DoubleType) * 1e6 / col("cohort_size") + 0.5) / 1e6)
      // Emit the cohort as 'yyyy-MM-dd' text: a DATE column round-trips
      // asymmetrically through the two engines' parquet/pandas paths
      // (date32 -> python objects vs datetime64), which the hash
      // compare would flag even though the values agree.
      .withColumn("cohort_date", date_format(col("cohort_date"), "yyyy-MM-dd"))
  }

  /** Gap-based batch sessionization: a user's events are split into
    * sessions wherever the gap to the previous event exceeds
    * `gapSeconds`; one summary row per session.
    *
    * Scale shape: ONE shuffle total. The lag()/running-sum windows
    * hash-partition on the user key, and the per-session aggregate's
    * required clustering (user, session) is already satisfied by that
    * partitioning (hash on a subset of the grouping keys), so the
    * groupBy adds no exchange — verified in the formatted plan. All
    * arithmetic is exact micros; no floats anywhere. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapSeconds: Long, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val us = unix_micros(col(tsCol))
    val flagged = events.select(
        col(userCol), col(tsCol), col(tieBreak),
        when(us - lag(us, 1).over(w) > gapSeconds * 1000000L ||
          lag(us, 1).over(w).isNull, 1L).otherwise(0L).as("_new"))
      .withColumn("session_id",
        sum(col("_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col(userCol), col("session_id"))
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        (max(unix_micros(col(tsCol))) - min(unix_micros(col(tsCol))))
          .as("duration_us"))
  }

  /** SCD-2 history build: a keyed change stream becomes validity
    * intervals — each change opens a version at its timestamp and the
    * next change (same key) closes it; the last version per key is
    * current (null valid_to). One window shuffle on the key; the
    * dimension-history pattern every warehouse rebuilds nightly. */
  def scd2History(changes: DataFrame, keyCol: String, tsCol: String,
                  stateCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieBreak))
    changes.select(col(keyCol), col(tieBreak), col(stateCol).as("state"),
        col(tsCol).as("valid_from"),
        lead(col(tsCol), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Calendar-spine resampling with forward fill: every (key, day)
    * cell of the observation window gets a row — zero-filled counts,
    * running cumulative, and the last observed value carried forward
    * (nulls until first observation). The gap-filling shape every
    * time-series warehouse needs before joining series of different
    * density. Spine = keys × days (bounded, never event-sized);
    * per-day last value picked by max(struct(ts, tieBreak, value)) —
    * deterministic; fills are one key-window pass. The two global
    * date bounds are collected driver-side (two scalars). */
  def resampleDaily(events: DataFrame, keyCol: String, tsCol: String,
                    valueCol: String, tieBreak: String): DataFrame = {
    val bounds = events.agg(min(to_date(col(tsCol))).as("lo"),
      // BOUNDED: single-row min/max aggregate
      max(to_date(col(tsCol))).as("hi")).collect()(0)
    if (bounds.isNullAt(0))
      return events.select(col(keyCol), lit("").as("day"),
        lit(0L).as("n_events"), lit(0L).as("cum_events"),
        lit(0.0).as("ffill_value")).limit(0)
    val (lo, hi) = (bounds.getDate(0), bounds.getDate(1))
    val daily = events.groupBy(col(keyCol), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("n_events"),
        max(struct(col(tsCol), col(tieBreak), col(valueCol))).as("_last"))
      .select(col(keyCol), col("_day"), col("n_events"),
        col(s"_last.$valueCol").as("_lastv"))
    val spine = events.select(col(keyCol)).distinct()
      .select(col(keyCol),
        explode(sequence(lit(lo), lit(hi))).as("_day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("_day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq(keyCol, "_day"), "left")
      .select(col(keyCol),
        col("_day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        sum(coalesce(col("n_events"), lit(0L))).over(w).as("cum_events"),
        last(col("_lastv"), ignoreNulls = true).over(w).as("ffill_value"))
      .withColumn("day", date_format(col("_day"), "yyyy-MM-dd"))
      .drop("_day")
      .select(col(keyCol), col("day"), col("n_events"), col("cum_events"),
        col("ffill_value"))
  }

  /** First-order (Markov) event-type transition counts: for each
    * user-consecutive event pair, count (from_type → to_type) and the
    * per-source transition share. One shuffle on the user key for the
    * lead() window; the aggregate output is |types|² — bounded at any
    * input size. `tieBreak` makes same-timestamp ordering
    * deterministic across engines. */
  def eventTransitions(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val next = events
      .select(col(typeCol).as("from_type"),
        lead(col(typeCol), 1).over(w).as("to_type"))
      .where(col("to_type").isNotNull)
    val counts = next.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val wFrom = Window.partitionBy("from_type")
    counts
      .withColumn("n_from", sum(col("n")).over(wFrom))
      .withColumn("share",
        floor(col("n").cast(DoubleType) * 1e6 / col("n_from") + 0.5) / 1e6)
  }
}
