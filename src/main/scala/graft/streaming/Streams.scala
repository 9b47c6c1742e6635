package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Det

/** Structured-Streaming-shaped operators over the `events` table.
  *
  * The reference is strictly batch (SURVEY §2.10); these are the
  * extension surface. Each transform is written against a plain
  * DataFrame so the same code runs in a batch query (driver oracle
  * checks) and under `readStream` (StreamsSpec drives it with the
  * parquet source + memory sink).
  */
object Streams {

  /** Tumbling-window aggregate: per (hour, event_type) counts + exact
    * sums. `window().start` on an aligned width == date_trunc. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 6).as("v_sum"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("v_sum"))

  /** Session windows per user with a 30-minute inactivity gap: a new
    * session starts when ts − previous ts ≥ gap. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 6).as("v_sum"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n"), col("v_sum"))

  /** Streaming flavor of [[hourlyTypeCounts]] with a watermark, for
    * the real `readStream` path. */
  def hourlyTypeCountsStream(events: DataFrame): DataFrame =
    hourlyTypeCounts(events.withWatermark("ts", "2 hours"))

  /** Sliding (hopping) window counts: 1-hour windows every 15
    * minutes — each event lands in 4 overlapping windows. Same code
    * path batch and streaming (st_sliding_counts is the batch twin
    * with the DuckDB oracle). */
  def slidingTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Watermarked streaming flavor of [[slidingTypeCounts]]. */
  def slidingTypeCountsStream(events: DataFrame): DataFrame =
    slidingTypeCounts(events.withWatermark("ts", "2 hours"))

  /** X-W7: sliding-window DISTINCT users — the "hourly active users
    * every 15 minutes" staple. Unlike the count version, distinct
    * state can't map-side-combine to one number: the window explode
    * (4 rows per event) shuffles on (window, user) first — exact, and
    * at 100 TB the approx path is a15's HLL sketch per window.
    *
    * BATCH formulation (`count_distinct` raises AnalysisException on
    * a streaming frame); the streaming path is
    * [[slidingActiveUsersStream]]. */
  def slidingActiveUsers(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count_distinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_users"),
        col("n_events"))

  /** Streaming flavor of [[slidingActiveUsers]]: distinct-count as a
    * two-level aggregation — (window, user) partial counts, then a
    * per-window row count — the chained-stateful-operator shape Spark
    * supports in append mode since 3.4. State per level is bounded by
    * the watermark; the (window, user) level is exactly the shuffle
    * the batch `count_distinct` plans, so batch == stream on replay
    * (asserted in StreamsSpec). */
  def slidingActiveUsersStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("_n_user_events"))
      .groupBy(col("window"))
      // count(user_id), not count(1): the batch count_distinct skips
      // NULL users, so the NULL group (one row at this level) must
      // not count as an active user — its events still count
      .agg(count(col("user_id")).as("n_users"),
        sum(col("_n_user_events")).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_users"),
        col("n_events"))

  /** Click→purchase attribution: every purchase by the same user
    * within the hour after a click. The equi key (user_id) carries
    * the shuffle — high-cardinality at scale — and the time bound is
    * a residual predicate, so the batch plan is a plain hash/merge
    * join (no BNLJ) and the streaming plan is a watermarked
    * stream-stream interval join with bounded state. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
      col("value").as("purchase_value"))
    c.join(p, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select("click_id", "user_id", "click_ts", "purchase_id",
        "purchase_ts", "purchase_value")
  }

  /** Streaming flavor of [[attributionJoin]]: watermarks on both
    * sides bound the join state (a click can stop waiting once the
    * purchase watermark passes click_ts + 1 h). */
  def attributionJoinStream(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributionJoin(clicks.withWatermark("ts", "2 hours"),
      purchases.withWatermark("ts", "2 hours"))

  /** Streaming-shaped dedup: first event per (hour, user, type) plus
    * the duplicate count. "First" = min (ts, event_id) — an
    * order-independent aggregate, so batch, streaming replay and the
    * SQL oracle agree bit-for-bit (streaming dropDuplicates keeps
    * first-ARRIVED, which is nondeterministic under parallel replay —
    * min-by is the deterministic formulation of the same intent). */
  def dedupFirstPerKey(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("user_id"), col("event_type"))
      .agg(min(struct(col("ts"), col("event_id"))).as("_first"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("bucket"), col("user_id"), col("event_type"),
        col("_first.ts").as("first_ts"), col("_first.event_id").as("first_id"),
        col("n_events"))

  /** Watermarked streaming flavor of [[dedupFirstPerKey]]. */
  def dedupFirstPerKeyStream(events: DataFrame): DataFrame =
    dedupFirstPerKey(events.withWatermark("ts", "2 hours"))

  /** Custom streaming state (SURVEY §2.10 extension surface):
    * per-user running totals with `flatMapGroupsWithState` — emits a
    * row whenever a user's cumulative value crosses another multiple
    * of `step`. Works on a static Dataset too (Spark executes the
    * state function per group in one pass).
    *
    * `stateTtlMs` (off by default, preserving exact batch parity):
    * key cardinality is unbounded in a long-running stream, so the
    * [[anomalyStream]] TTL seam applies here too — a user idle past
    * the TTL has their running total dropped and restarts at 0. */
  def runningTotalAlerts(events: DataFrame, step: Double = 100.0,
                         stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
           state: GroupState[Double]): Iterator[(Long, Double, Long)] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var total = state.getOption.getOrElse(0.0)
      val alerts = scala.collection.mutable.ArrayBuffer[(Long, Double, Long)]()
      // deterministic order within the group
      rows.toSeq.sortBy(r => (r._2.getTime, r._3)).foreach { case (_, _, v) =>
        val before = (total / step).toLong
        total += v
        val after = (total / step).toLong
        if (after > before) alerts += ((user, total, after))
      }
      state.update(total)
      stateTtlMs.foreach(state.setTimeoutDuration)
      alerts.iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("user_id", "running_total", "milestone")
  }

  /** Shared TTL-timeout selector for the stateful ops: a TTL arms
    * ProcessingTimeTimeout (each invocation re-arms after updating
    * state; an expiry tick removes the key's state), TTL off keeps
    * the exact-batch-parity NoTimeout mode. */
  private def ttlTimeout(stateTtlMs: Option[Long])
      : org.apache.spark.sql.streaming.GroupStateTimeout =
    if (stateTtlMs.isDefined)
      org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout
    else org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout

  /** Stateful streaming near-dedup: documents arrive as a stream and
    * every doc that near-duplicates ANY previously-seen doc is flagged
    * the moment it arrives — the streaming twin of the crawl-ingestion
    * pattern ([[graft.operators.Dedup.incrementalNearDups]]), with the
    * corpus index living in stream STATE instead of a side table.
    *
    * Shape: the compiled poly/LCG MinHash band keys are computed in
    * the scan (same kernel as the batch path), rows group by (band,
    * key) bucket, and `flatMapGroupsWithState` keeps each bucket's
    * seen (id, shingle-signature) list as state — docs ever meet only
    * inside an LSH bucket, so state per key is O(bucket occupancy),
    * the same quantity the batch banded join shuffles. Matches are
    * verified with the exact shingle-Jaccard arithmetic over the
    * cached sorted signatures and emitted as canonical
    * (a = min id, b = max id) pairs; a pair colliding in several
    * bands emits per band — `dropDuplicates("a","b")` downstream is
    * the streaming-safe dedup (at production scale: add a state TTL /
    * watermark to bound bucket state by recency, exactly where a
    * crawl pipeline wants its dedup horizon anyway).
    *
    * Deterministic by construction (rows processed in id order inside
    * each invocation, state compared in insertion-independent
    * canonical form), so the SAME function run on a static frame
    * equals [[graft.operators.Dedup.minhashVerifiedPairs]] — the
    * registered st_stream_neardup query hash-checks that against the
    * dd_minhash_lsh_poly DuckDB oracle, and StatefulStreamsSpec
    * asserts streaming (multi-micro-batch) == batch. */
  def nearDupPairs(docs: DataFrame, threshold: Double,
                   shingleSize: Int = 5, numHashes: Int = 8,
                   bandSize: Int = 4,
                   stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.select(col("doc_id"), col("text"),
        posexplode(graft.functions.Expressions.minHashBandsPoly(
          col("text"), shingleSize, numHashes, bandSize)).as(Seq("_band", "_key")))
      .select(col("_band"), col("_key"), col("doc_id"), col("text"))
      .as[(Int, String, Long, String)]
    // STATEFUL SIGNATURE CACHE (r14, VERDICT r13 #3): state keeps each
    // occupant's sorted 64-bit shingle signature, not its raw text —
    // a document is tokenized ONCE on arrival and every later verify
    // (this batch or any future one) is a linear merge-intersection
    // of two sorted arrays. The old state-of-texts shape re-ran the
    // O(len) shingle kernel per PAIR per batch, which is where the
    // honest k=16 ratio of 4.1 lived. sigJaccard's arithmetic equals
    // ShingleJaccard.kernel's (same set sizes, same double division),
    // so batch-mode output — and the shared dd_minhash_lsh_poly
    // DuckDB oracle — are unchanged (StreamsSpec pins sig == kernel
    // on real corpus texts).
    def fn(bucket: (Int, String), rows: Iterator[(Int, String, Long, String)],
           state: GroupState[List[(Long, Array[Long])]]): Iterator[(Long, Long, Double)] = {
      // TTL expiry: this bucket's seen-list is the dedup HORIZON —
      // dropping it on inactivity is exactly where a crawl pipeline
      // wants its near-dup window bounded (docs older than the TTL no
      // longer suppress new arrivals)
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var seen = state.getOption.getOrElse(Nil)
      val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
      rows.toSeq.sortBy(_._3).foreach { case (_, _, id, text) =>
        if (!seen.exists(_._1 == id)) {
          val sig = graft.functions.Expressions.shingleSig(text, shingleSize)
          seen.foreach { case (oid, osig) =>
            val j = graft.functions.Expressions.sigJaccard(sig, osig)
            if (j >= threshold)
              out += ((math.min(id, oid), math.max(id, oid), j))
          }
          seen = (id, sig) :: seen
        }
      }
      state.update(seen)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
    keyed.groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("a", "b", "jaccard")
  }

  /** X-ST13: stateful streaming exact-dedup ingest gate — the
    * "have I seen this document before?" decision made AS DOCS
    * ARRIVE, with the corpus's content-key set living in stream
    * state: the streaming twin of the
    * [[graft.operators.Dedup.bloomIncremental]] /
    * `ep7_incremental_ingest` batch gates, closing the ingest-dedup
    * triangle (batch side table / batch sketch / stream state).
    *
    * Shape: content key = md5(lower(text)) computed in the SCAN
    * (same engine-native expression the dd_exact oracle mirrors);
    * rows group by the key's first 3 hex chars — a bounded 4096-key
    * space, so state per group is O(corpus/4096) keys and the
    * shuffle is uniform by construction (md5 prefixes are uniform —
    * no skew salting needed at any corpus size). Each group's
    * `flatMapGroupsWithState` keeps the SET of seen keys; an
    * arriving doc is a duplicate iff its key is already present
    * (from any earlier micro-batch, or from a smaller-id doc in this
    * one — rows are processed in id order, so batch-mode output is
    * deterministic and equals the window oracle
    * `row_number() OVER (PARTITION BY key ORDER BY id) > 1`).
    * At production scale the state store bounds memory per executor
    * and `stateTtlMs` gives the dedup horizon a crawl wants.
    * StatefulStreamsSpec proves a dup whose original arrived in an
    * EARLIER micro-batch still flags (cross-batch state). */
  def exactIngestGate(docs: DataFrame,
                      stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id"),
        md5(lower(col("text"))).as("_ck"))
      .select(col("doc_id"), col("_ck"), substring(col("_ck"), 1, 3).as("_bucket"))
      .as[(Long, String, String)]
    def fn(bucket: String, rows: Iterator[(Long, String, String)],
           state: GroupState[Set[String]]): Iterator[(Long, String, Boolean)] = {
      // TTL expiry: the bucket's seen-key set is the dedup horizon —
      // an idle slice of the key space restarts cold (same contract
      // as the near-dup horizon above)
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var seen = state.getOption.getOrElse(Set.empty[String])
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, Boolean)]()
      rows.toSeq.sortBy(_._1).foreach { case (id, ck, _) =>
        val dup = seen.contains(ck)
        out += ((id, ck, dup))
        if (!dup) seen += ck
      }
      state.update(seen)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
    keyed.groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("doc_id", "content_key", "is_dup")
  }

  /** X-ST7: stateful streaming CEP — the strict view→click→purchase
    * sequence (the batch ev_cep_pattern) detected AS EVENTS ARRIVE:
    * `flatMapGroupsWithState` keyed by user holds only the last two
    * events per user (O(1) state — the minimum any 3-step strict
    * pattern needs), so a pattern spanning micro-batches still fires.
    * Rows are processed in (ts, event_id) order inside each
    * invocation; per-user event-time order across batches is the
    * source contract (a production feed adds a watermark + small
    * reorder buffer). The static run of the same function equals the
    * batch window-lead plan — the registered st_stream_cep query
    * shares ev_cep_pattern's oracle verbatim, and
    * StatefulStreamsSpec asserts multi-micro-batch == batch. */
  def streamCepMatches(events: DataFrame,
                       stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val typed = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[(Long, Long, java.sql.Timestamp, String)]
    // state: the user's two most-recent events, newest first
    def fn(user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, String)],
           state: GroupState[List[(Long, Long, String)]])
        : Iterator[(Long, Long, Long, Long, java.sql.Timestamp, Long)] = {
      // TTL expiry: an idle user's 2-event prefix is dropped — a
      // pattern must then restart from scratch (the recency bound a
      // long-running CEP deployment needs)
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var last = state.getOption.getOrElse(Nil)
      val out = scala.collection.mutable
        .ArrayBuffer[(Long, Long, Long, Long, java.sql.Timestamp, Long)]()
      rows.toSeq.sortBy(r => (us(r._3), r._2)).foreach { case (_, id, ts, typ) =>
        last match {
          case (id1, _, "click") :: (id2, us2, "view") :: _ if typ == "purchase" =>
            val viewTs = new java.sql.Timestamp(math.floorDiv(us2, 1000L))
            viewTs.setNanos((math.floorMod(us2, 1000000L) * 1000L).toInt)
            out += ((user, id2, id1, id, viewTs, us(ts) - us2))
          case _ =>
        }
        last = ((id, us(ts), typ) :: last).take(2)
      }
      state.update(last)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("user_id", "view_id", "click_id", "purchase_id", "view_ts", "span_us")
  }

  /** X-ST9: stateful-streaming rolling anomaly (the
    * [[graft.operators.Temporal.rollingAnomaly]] semantics as events
    * arrive). Per-user state: the trailing `window` observations,
    * newest first; every arrival is scored against the state BEFORE
    * it joins it, so a spike never dilutes its own baseline. Exact
    * batch parity: values and their squares are held as longs of
    * 1e-6 quanta (the batch twin's DECIMAL(30,6) grid — quantization
    * ties are not binary-representable, so HALF_UP here cannot
    * disagree with either engine's cast), the long sums are exact,
    * and the final divisions/sqrt are the same correctly-rounded
    * IEEE ops the window expressions compile to. State is O(window)
    * per key; output mode Append.
    *
    * State per key is O(window), but keys themselves are unbounded in
    * a long-running stream — `stateTtlMs` (off by default) arms a
    * ProcessingTimeTimeout that drops a user's history after that
    * much inactivity, bounding total state at the cost of exact batch
    * parity (a user returning after the TTL is scored as new). */
  def anomalyStream(events: DataFrame, window: Int = 8,
                    minHistory: Int = 4, k: Double = 3.0,
                    stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    def us(t: java.sql.Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def q6(x: Double): Long =
      BigDecimal.valueOf(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .underlying.unscaledValue.longValueExact
    def round6(x: Double): Double =
      BigDecimal.valueOf(x)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
    // state: trailing observations, newest first: (usec, eventId, value)
    def fn(user: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
           state: GroupState[List[(Long, Long, Double)]])
        : Iterator[(Long, java.sql.Timestamp, Long, Double, Option[Double], Boolean)] = {
      if (state.hasTimedOut) { // TTL expiry tick: drop idle key's history
        state.remove()
        return Iterator.empty
      }
      var hist = state.getOption.getOrElse(Nil)
      val out = scala.collection.mutable
        .ArrayBuffer[(Long, java.sql.Timestamp, Long, Double, Option[Double], Boolean)]()
      rows.toSeq.sortBy(r => (us(r._2), r._3)).foreach { case (_, ts, id, v) =>
        val n = hist.size
        var z: Option[Double] = None
        var flag = false
        if (n >= minHistory) {
          val s1 = hist.iterator.map(h => q6(h._3)).sum.toDouble / 1e6
          val s2 = hist.iterator.map(h => q6(h._3 * h._3)).sum.toDouble / 1e6
          val nD = n.toDouble
          val mean = s1 / nD
          val std = math.sqrt(math.max(0.0, (s2 - s1 * s1 / nD) / (nD - 1.0)))
          if (std > 0.0) {
            val zz = round6((v - mean) / std)
            z = Some(zz); flag = math.abs(zz) > k
          } else flag = v != mean
        }
        out += ((user, ts, id, v, z, flag))
        hist = ((us(ts), id, v) :: hist).take(window)
      }
      state.update(hist)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("user_id", "ts", "event_id", "value", "z", "is_anomaly")
  }

  /** Read the events table as a (bounded) stream: same parquet file,
    * streaming source semantics. The file-source schema is read from a
    * data file's footer (streaming requires an explicit schema; taking
    * it from the data keeps this robust to the ts column's physical
    * type — see Tables.normalizeTs). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.core.Tables.parquetSchema(spark, dir)
    graft.core.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir))
  }

  // ---------------------------------------------------------- X-ST8: CDC

  /** CDC current-state, batch twin: the events table read as a change
    * stream per user — the key's state is its LATEST change under the
    * (ts, event_id) total order, a latest `tombstone` row means the
    * key is deleted (absent), and n_changes counts every change ever
    * seen for the key. One hash exchange: both windows and the final
    * filter share the user partitioning. */
  def cdcCurrentState(events: DataFrame,
                      tombstone: String = "error"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("user_id"))
    val latest = byKey.orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("_rn", row_number().over(latest))
      .withColumn("n_changes", count(lit(1)).over(byKey))
      .where(col("_rn") === 1 && col("event_type") =!= tombstone)
      .select(col("user_id"), col("ts").as("last_ts"),
        col("event_type").as("last_type"), col("value").as("last_value"),
        col("n_changes"))
  }

  /** Per-batch reduce for the streaming CDC apply: the batch's latest
    * row per key (same total order) + its change count. */
  private def cdcBatchLatest(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("user_id"))
    batch
      .withColumn("_rn", row_number().over(
        byKey.orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_changes", count(lit(1)).over(byKey))
      .where(col("_rn") === 1)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"), col("n_changes"))
  }

  /** Streaming CDC apply — the foreachBatch MERGE pattern: every
    * micro-batch reduces to its own latest-per-key frame, then merges
    * into the running state with a NEWER-WINS rule on (ts, event_id)
    * and additive change counts. Tombstone rows are KEPT in the state
    * (a deleted key must not resurrect when an out-of-order older
    * change arrives in a later batch) and filtered only at read time,
    * so the final state is independent of how the stream was batched
    * — the property the spec asserts against [[cdcCurrentState]].
    * State versions land under `stateDir/v<batchId>` (file-sized at
    * key cardinality; a real deployment writes a Snapshots-style
    * manifest per version). Returns the final current-state frame. */
  def cdcApplyStream(spark: SparkSession, eventsDir: String,
                     stateDir: String, tombstone: String = "error",
                     maxFilesPerTrigger: Int = 1): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.core.Tables.parquetSchema(spark, eventsDir)
    val stream = graft.core.Tables.normalizeTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(eventsDir))
    @volatile var statePath: Option[String] = None
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = cdcBatchLatest(batch)
          .select(col("user_id").as("_b_user_id"), col("ts").as("_b_ts"),
            col("event_id").as("_b_event_id"), col("event_type").as("_b_type"),
            col("value").as("_b_value"), col("n_changes").as("_b_n"))
        val merged = statePath match {
          case None => b.select(
            col("_b_user_id").as("user_id"), col("_b_ts").as("ts"),
            col("_b_event_id").as("event_id"), col("_b_type").as("event_type"),
            col("_b_value").as("value"), col("_b_n").as("n_changes"))
          case Some(p) =>
            val s = graft.core.Tables.readParquet(spark, p)
            val newer = col("_b_ts") > col("ts") ||
              (col("_b_ts") === col("ts") && col("_b_event_id") > col("event_id"))
            val takeBatch = col("ts").isNull || (col("_b_ts").isNotNull && newer)
            s.join(b, col("user_id") === col("_b_user_id"), "full_outer")
              .select(
                coalesce(col("user_id"), col("_b_user_id")).as("user_id"),
                when(takeBatch, col("_b_ts")).otherwise(col("ts")).as("ts"),
                when(takeBatch, col("_b_event_id")).otherwise(col("event_id")).as("event_id"),
                when(takeBatch, col("_b_type")).otherwise(col("event_type")).as("event_type"),
                when(takeBatch, col("_b_value")).otherwise(col("value")).as("value"),
                (coalesce(col("n_changes"), lit(0L)) + coalesce(col("_b_n"), lit(0L)))
                  .as("n_changes"))
        }
        val out = s"$stateDir/v$id"
        merged.write.mode("overwrite").parquet(out)
        statePath = Some(out)
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    statePath match {
      case None => spark.emptyDataFrame
      case Some(p) =>
        graft.core.Tables.readParquet(spark, p)
          .where(col("event_type") =!= tombstone)
          .select(col("user_id"), col("ts").as("last_ts"),
            col("event_type").as("last_type"), col("value").as("last_value"),
            col("n_changes"))
    }
  }

  /** STATEFUL-STREAMING last-touch attribution — the ev_attribution
    * semantics as events arrive: per-user state holds the most
    * recent touch (tsUs, type); each purchase emits (channel, value)
    * against the state at its arrival. In batch mode (one invocation
    * per user, rows sorted (ts, event_id)) this equals the batch
    * twin's strictly-preceding window scan, so the registry entry
    * shares the ev_attribution oracle verbatim after the same
    * channel aggregate; StatefulStreamsSpec drives real micro-batches
    * split on the time axis (touch in batch 1 attributes a purchase
    * in batch 2 through state). State TTL (optional) expires idle
    * users' touches — their later purchases become 'direct'. */
  def attributionStream(events: DataFrame, lookbackUs: Long = 86400000000L,
                        stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"),
        unix_micros(col("ts")).as("_tsus"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
    def fn(key: Long, rows: Iterator[(Long, Long, Long, String, Double)],
           state: GroupState[(Long, String)]): Iterator[(String, Double)] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      var touch = state.getOption
      val out = scala.collection.mutable.ArrayBuffer[(String, Double)]()
      // deterministic order within the invocation: (ts, event_id) —
      // a same-timestamp touch with a smaller id precedes, matching
      // the batch window's strictly-preceding frame
      rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, tsUs, _, tpe, v) =>
        if (tpe == "purchase") {
          val ch = touch match {
            case Some((tts, tch)) if tsUs - tts <= lookbackUs => tch
            case _ => "direct"
          }
          out += ((ch, v))
        } else touch = Some((tsUs, tpe))
      }
      touch.foreach(state.update)
      stateTtlMs.foreach(state.setTimeoutDuration)
      out.iterator
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("channel", "value")
  }

  /** Stateful streaming token-budget admission — the streaming twin of
    * [[graft.operators.Text.tokenBudgetMix]]: each (domain, shard) key
    * keeps its spent-token running total in state and admits arrivals
    * while the per-shard budget (budget/nShards) lasts. Rows sort by
    * (bucket, id) INSIDE each invocation, so batch-mode execution (one
    * invocation per key) equals the batch twin's global-prefix cut
    * exactly and shares its oracle; under a real multi-batch stream
    * the budget is spent in arrival order across batches — precisely
    * an ingestion-time cap (StatefulStreamsSpec drives that case with
    * bucket-ordered files, where stream == batch still holds).
    * Rejected rows still charge the total (the batch twin's window
    * sums every row), so admission is prefix-closed per shard. */
  def tokenBudgetStream(docs: DataFrame, budgetPerDomain: Long,
                        nShards: Int = 4,
                        stateTtlMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    require(budgetPerDomain >= nShards,
      s"budgetPerDomain=$budgetPerDomain must be >= nShards=$nShards")
    // remainder-distributed shard budgets — parity with the batch
    // twin Text.tokenBudgetMix (shard i < budget%n gets one extra)
    val baseBudget = budgetPerDomain / nShards
    val remBudget = budgetPerDomain % nShards
    val typed = docs.select(col("source"), col("doc_id"),
        graft.operators.Text.sampleBucket(col("doc_id")).as("_bucket"),
        size(graft.operators.Text.tokens(col("text"))).cast("long").as("n_toks"))
      .withColumn("_shard", pmod(col("_bucket"), lit(nShards.toLong)))
      .as[(String, Long, Long, Long, Long)]
    def fn(key: (String, Long),
           rows: Iterator[(String, Long, Long, Long, Long)],
           state: GroupState[Long]): Iterator[(String, Long, Long)] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val shardBudget = baseBudget + (if (key._2 < remBudget) 1L else 0L)
      var spent = state.getOption.getOrElse(0L)
      val admitted = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      // deterministic order within the invocation: (bucket, id)
      rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (src, id, _, nt, _) =>
        spent += nt // every row charges the shard (prefix semantics)
        if (spent <= shardBudget) admitted += ((src, id, nt))
      }
      state.update(spent)
      stateTtlMs.foreach(state.setTimeoutDuration)
      admitted.iterator
    }
    typed.groupByKey(r => (r._1, r._5))
      .flatMapGroupsWithState(OutputMode.Append, ttlTimeout(stateTtlMs))(fn)
      .toDF("source", "doc_id", "n_toks")
  }
}
