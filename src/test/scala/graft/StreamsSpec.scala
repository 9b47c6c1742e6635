package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.Tables
import graft.streaming.Streams

/** The real Structured Streaming path: the same transform that the
  * driver oracle checks in batch runs under readStream with the
  * parquet source and a memory sink, and must produce identical rows.
  */
class StreamsSpec extends SparkSpec {

  test("streaming hourly counts == batch hourly counts") {
    val batch = Streams.hourlyTypeCounts(Tables.load(spark, sf001, "events"))
      .orderBy("bucket", "event_type").collect()

    // file streaming source wants a directory; stage the single file
    val dir = tempDir("graft_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = Streams.eventsStream(spark, dir.toString)
    val q = Streams.hourlyTypeCountsStream(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("hourly_out")
      .orderBy("bucket", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming sliding counts == batch sliding counts") {
    val batch = Streams.slidingTypeCounts(Tables.load(spark, sf001, "events"))
      .orderBy("window_start", "event_type").collect()

    val dir = tempDir("graft_stream_sl")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.slidingTypeCountsStream(Streams.eventsStream(spark, dir.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("sliding_out")
      .orderBy("window_start", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming dedup-first == batch dedup-first") {
    val batch = Streams.dedupFirstPerKey(Tables.load(spark, sf001, "events"))
      .orderBy("bucket", "user_id", "event_type").collect()

    val dir = tempDir("graft_stream_dd")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    val q = Streams.dedupFirstPerKeyStream(Streams.eventsStream(spark, dir.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_out")
      .orderBy("bucket", "user_id", "event_type").collect()
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming attribution join == batch attribution join") {
    val ev = Tables.load(spark, sf001, "events")
    val batch = Streams.attributionJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"))
      .orderBy("click_id", "purchase_id").collect()
    assert(batch.nonEmpty)

    val dir = tempDir("graft_stream_attr")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    // two independent readStream sources over the same files — the
    // real stream-stream join shape (not a self-join of one source)
    val clicks = Streams.eventsStream(spark, dir.toString)
      .where(col("event_type") === "click")
    val purchases = Streams.eventsStream(spark, dir.toString)
      .where(col("event_type") === "purchase")
    val q = Streams.attributionJoinStream(clicks, purchases)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("attr_out")
      .orderBy("click_id", "purchase_id").collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming sliding active users == batch (watermark-closed windows)") {
    val events = Tables.load(spark, sf001, "events")
    val maxTs = events.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val batch = Streams.slidingActiveUsers(events)
      .orderBy("window_start").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap

    val dir = tempDir("graft_stream_au")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf001/events.parquet"),
      dir.resolve("events.parquet"))
    // chained stateful aggregation -> append mode: only windows the
    // watermark (max ts - 2 h) has closed are emitted
    val q = Streams.slidingActiveUsersStream(Streams.eventsStream(spark, dir.toString))
      .writeStream.outputMode("append")
      .format("memory").queryName("active_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("active_out").collect()
      .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.nonEmpty)
    // every emitted window matches batch exactly
    streamed.foreach { case (ws, v) =>
      assert(batch.get(ws).contains(v), s"window $ws: stream $v vs batch ${batch.get(ws)}")
    }
    // and every safely-closed batch window (end strictly more than one
    // hop below the watermark, avoiding boundary-rule sensitivity) emitted
    val safeCutoffMs = maxTs.getTime - (2 * 3600 + 3600 + 900) * 1000L
    val mustEmit = batch.keySet.filter(_.getTime < safeCutoffMs)
    assert(mustEmit.subsetOf(streamed.keySet),
      s"missing windows: ${mustEmit -- streamed.keySet}")
  }

  test("sliding active users: two-level form matches count_distinct incl. NULL users") {
    import spark.implicits._
    // NULL user: count_distinct skips it, its events still count
    val ev = Seq(
      (Some(1L), "2024-01-01 10:05:00", 1.0),
      (Some(1L), "2024-01-01 10:10:00", 2.0),
      (Some(2L), "2024-01-01 10:20:00", 3.0),
      (Option.empty[Long], "2024-01-01 10:25:00", 4.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val batch = Streams.slidingActiveUsers(ev)
      .orderBy("window_start").collect().toSeq
    val twoLevel = Streams.slidingActiveUsersStream(ev) // batch exec of the stream plan
      .orderBy("window_start").collect().toSeq
    assert(batch == twoLevel, s"batch=$batch twoLevel=$twoLevel")
    assert(batch.exists(r => r.getAs[Long]("n_users") == 2L &&
      r.getAs[Long]("n_events") == 4L)) // the 10:00 window: 2 users, 4 events
  }

  test("session windows: gap merging semantics") {
    import spark.implicits._
    val ts = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 10:20:00", 2.0),   // same session (< 30 min)
      (1L, "2024-01-01 11:30:00", 3.0),   // new session
      (2L, "2024-01-01 10:00:00", 4.0))
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Streams.userSessions(ts).orderBy("user_id", "session_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n") == 2 && out(0).getAs[Double]("v_sum") == 3.0)
    assert(out(1).getAs[Long]("n") == 1)
    assert(out(2).getAs[Long]("n") == 1 && out(2).getAs[Double]("v_sum") == 4.0)
  }
}
