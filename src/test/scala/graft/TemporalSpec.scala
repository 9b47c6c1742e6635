package graft

import org.apache.spark.sql.functions._

import graft.operators.{GroupOps, Temporal}

/** As-of join, range join, top-k per group: fixture semantics +
  * scale-shape (no BroadcastNestedLoopJoin) assertions. */
class TemporalSpec extends SparkSpec {
  import spark.implicits._

  test("ev_survival_km == independent sequential Kaplan-Meier over collected durations") {
    // sequential reference: recompute per-user durations and walk the
    // classic KM product loop in plain Scala (quantizing exactly as
    // the operator documents), none of the window machinery
    val ev = core.Tables.load(spark, sf01, "events")
      .select("user_id", "event_type", "ts")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2).getTime / 1000L)) // whole seconds, like unix_timestamp
    val endTs = ev.map(_._3).max
    val firstView = ev.filter(_._2 == "view").groupBy(_._1).view
      .mapValues(_.map(_._3).min).toMap
    val durations = firstView.toSeq.map { case (u, v) =>
      val p = ev.filter(e => e._1 == u && e._2 == "purchase" && e._3 >= v)
        .map(_._3)
      if (p.nonEmpty) (math.floorDiv(p.min - v, 3600L), true)
      else (math.floorDiv(endTs - v, 3600L), false)
    }
    var atRisk = durations.size.toLong
    var lnSum = 0L
    val ref = durations.groupBy(_._1).toSeq.sortBy(_._1).map { case (d, g) =>
      val events = g.count(_._2).toLong
      val censored = g.count(!_._2).toLong
      val risk = atRisk
      val lnq =
        if (events == 0) 0L
        else if (events == risk) -100000000L
        else math.floor(math.log(1.0 - events.toDouble / risk) * 1e6 + 0.5).toLong
      lnSum += lnq
      atRisk -= events + censored
      (d, risk, events, censored,
        math.floor(math.exp(lnSum.toDouble / 1e6) * 1e6 + 0.5) / 1e6)
    }
    val got = SparkEntry.queries("ev_survival_km")(spark, sf01)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got == ref, s"first diff: ${got.zip(ref).find(p => p._1 != p._2)}")
    // curve properties: survival non-increasing, censoring present or
    // all users resolved, telescoping risk set
    got.sliding(2).foreach {
      case Seq(a, b) => assert(a._5 >= b._5, s"survival rose at ${b._1}")
      case _ =>
    }
    assert(got.head._2 == durations.size)
  }

  test("ev_ewma_smooth == sequential (x+s)/2 fold — the dyadic closed form is exact") {
    // the registry computes EWMA via the integer closed form
    // M_d / 2^(d-1); the naive sequential recursion s=(x+s)/2 is a
    // completely different computation that is ALSO exact for
    // dyadic rationals under 2^53 — the two must agree bit-for-bit
    val rows = SparkEntry.queries("ev_ewma_smooth")(spark, sf01)
      .select("event_type", "day", "n_events", "ewma")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (tpe, rs) =>
      var s = Double.NaN
      rs.sortBy(_._2).foreach { case (_, day, n, ewma) =>
        s = if (s.isNaN) n.toDouble else (n + s) / 2.0
        assert(ewma == s, s"$tpe day $day: closed-form $ewma vs fold $s")
      }
    }
    // forecast_err on the last day of each type must be NULL
    val last = SparkEntry.queries("ev_ewma_smooth")(spark, sf01)
      .orderBy(col("event_type"), col("day").desc)
      .dropDuplicates("event_type")
    assert(last.collect().forall(_.isNullAt(4)))
  }

  test("asofJoin: latest right at-or-before, per key, inclusive ties") {
    val left = Seq(
      (1L, "2024-01-01 10:00:00", 100L),
      (1L, "2024-01-01 12:00:00", 101L),
      (2L, "2024-01-01 09:00:00", 102L), // before any right row
      (3L, "2024-01-01 10:30:00", 103L)) // key with no right rows
      .toDF("user_id", "ts_s", "event_id")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val right = Seq(
      (1L, "2024-01-01 09:30:00", 200L, 1.0),
      (1L, "2024-01-01 12:00:00", 201L, 2.0), // equal-ts: counts (<=)
      (1L, "2024-01-01 12:00:00", 202L, 3.0), // tie: max event_id wins
      (2L, "2024-01-01 09:30:00", 203L, 4.0)) // after left's 09:00
      .toDF("user_id", "ts_s", "event_id", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")

    val out = Temporal.asofJoin(left, right, "user_id", "ts",
        payload = Seq("event_id", "value"), tieBreak = "event_id")
      .orderBy("event_id")
      .select("event_id", "event_id_r", "value_r").as[(Long, Option[Long], Option[Double])]
      .collect()
    assert(out.toSeq == Seq(
      (100L, Some(200L), Some(1.0)),   // 09:30 is latest <= 10:00
      (101L, Some(202L), Some(3.0)),   // equal ts included, max id
      (102L, None, None),              // nothing at or before
      (103L, None, None)))             // no right rows for key
  }

  test("rangeJoin: exact containment, end-exclusive, bucket-spanning") {
    val points = Seq(
      (1L, "2024-01-01 10:00:00"),
      (2L, "2024-01-01 10:29:59"),
      (3L, "2024-01-01 10:30:00"),  // end-exclusive: not in [10:00,10:30)
      (4L, "2024-01-01 11:45:00"))
      .toDF("pid", "ts_s").withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val ivs = Seq(
      (10L, "2024-01-01 10:00:00", "2024-01-01 10:30:00"),
      (11L, "2024-01-01 10:15:00", "2024-01-01 12:00:00")) // spans buckets
      .toDF("iid", "s_s", "e_s")
      .withColumn("w_start", to_timestamp(col("s_s")))
      .withColumn("w_end", to_timestamp(col("e_s"))).drop("s_s", "e_s")

    val out = Temporal.rangeJoin(points, "ts", ivs, "w_start", "w_end", 1800L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (4L, 11L)))
  }

  test("sessionize == Spark's native session_window on real events") {
    val ev = core.Tables.load(spark, sf001, "events")
    val ours = Temporal.sessionize(ev, "user_id", "ts", 1800, "event_id")
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    // native session_window: window.end = last event + gap, so the
    // comparable "end" is max(ts) inside the window
    val native = ev
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"),
        count(lit(1)).as("n"))
      .select(col("user_id"), col("s"), col("e"), col("n"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(ours == native, s"ours=${ours.size} native=${native.size}")
  }

  test("intervalOverlapJoin: strict boundaries, claim-cell emits each pair once") {
    val a = Seq(
      (1L, "2024-01-01 10:00:00", "2024-01-01 12:00:00"),  // spans 4 cells
      (2L, "2024-01-01 09:00:00", "2024-01-01 09:30:00"))  // touches 20's start
      .toDF("aid", "s_s", "e_s")
      .withColumn("a_start", to_timestamp(col("s_s")))
      .withColumn("a_end", to_timestamp(col("e_s"))).drop("s_s", "e_s")
    val b = Seq(
      (20L, "2024-01-01 09:30:00", "2024-01-01 11:00:00"),  // overlaps 1 across cells
      (21L, "2024-01-01 11:59:00", "2024-01-01 13:00:00"),  // 1-minute overlap with 1
      (22L, "2024-01-01 12:00:00", "2024-01-01 12:30:00"))  // touching a_end: no overlap
      .toDF("bid", "s_s", "e_s")
      .withColumn("b_start", to_timestamp(col("s_s")))
      .withColumn("b_end", to_timestamp(col("e_s"))).drop("s_s", "e_s")
    val rows = Temporal.intervalOverlapJoin(a, "a_start", "a_end",
        b, "b_start", "b_end", 1800L)
      .select("aid", "bid").as[(Long, Long)].collect()
    // exactly once per overlapping pair — the claim-cell rule dedups
    assert(rows.length == rows.toSet.size, "duplicate pair emitted")
    assert(rows.toSet == Set((1L, 20L), (1L, 21L)))
    // plan: cell equi-join, never a nested-loop
    val plan = Temporal.intervalOverlapJoin(a, "a_start", "a_end",
        b, "b_start", "b_end", 1800L).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("rangeJoin plan: bucketed equi-join, no BroadcastNestedLoopJoin") {
    val ev = core.Tables.load(spark, sf001, "events")
    val clicks = ev.where(col("event_type") === "click").select("event_id", "ts")
    val windows = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
    val plan = Temporal.rangeJoin(clicks, "ts", windows, "w_start", "w_end", 1800L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("asofJoin plan: single shuffle on the key, no join operator") {
    val ev = core.Tables.load(spark, sf001, "events")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val plan = Temporal.asofJoin(clicks, purchases, "user_id", "ts",
        Seq("event_id", "value"), "event_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan) // union+window formulation joins nothing
  }

  test("topKPerGroup: k best with deterministic ties") {
    val df = Seq(("a", 1L, 5.0), ("a", 2L, 5.0), ("a", 3L, 7.0), ("a", 4L, 1.0),
      ("b", 5L, 2.0)).toDF("g", "id", "v")
    val out = GroupOps.topKPerGroup(df, Seq("g"),
        Seq(col("v").desc, col("id").asc), 2)
      .select("g", "id", "rank_in_group").as[(String, Long, Long)]
      .collect().toSet
    assert(out == Set(("a", 3L, 1L), ("a", 1L, 2L), ("b", 5L, 1L)))
  }

  test("rollingAnomaly: trailing-window z, min history, zero-variance spike") {
    def mkDf(vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (1L, java.sql.Timestamp.valueOf(f"2024-01-01 10:${i}%02d:00"), i.toLong, v)
    }.toDF("user_id", "ts", "event_id", "value")
    // varying history: row 5 scored against [1..4], row 6 against [1..5]
    val out = Temporal.rollingAnomaly(mkDf(Seq(1, 2, 3, 4, 5, 30)),
      "user_id", "ts", "event_id", "value", window = 8, minHistory = 4)
      .orderBy("event_id").collect()
    assert(out.take(4).forall(r => r.isNullAt(4) && !r.getBoolean(5)),
      "rows with < minHistory must be unscored and unflagged")
    val z5 = { // hand formula: mean 2.5, sample std over [1,2,3,4]
      val (s1, s2, n) = (10.0, 30.0, 4.0)
      val std = math.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
      math.floor((5.0 - s1 / n) / std * 1e6 + 0.5) / 1e6
    }
    assert(out(4).getDouble(4) == z5 && !out(4).getBoolean(5))
    assert(out(5).getDouble(4) > 3.0 && out(5).getBoolean(5))
    // constant history: in-band repeats never flag; a spike flags
    // with null z (infinite departure from a zero-variance baseline)
    val const = Temporal.rollingAnomaly(mkDf(Seq(10, 10, 10, 10, 10, 100)),
      "user_id", "ts", "event_id", "value", window = 8, minHistory = 4)
      .orderBy("event_id").collect()
    assert(const.take(5).forall(r => r.isNullAt(4) && !r.getBoolean(5)))
    assert(const(5).isNullAt(4) && const(5).getBoolean(5))
  }

  test("cohortRetention: cohort by first date, weekly offsets, shares") {
    // user 1: first 2024-01-01, active again day 8 (week 1)
    // user 2: first 2024-01-01 only (two events same day -> one row)
    // user 3: first 2024-01-09, active day 23 (week 2)
    val ev = Seq(
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-09 09:00:00"),
      (2L, "2024-01-01 23:00:00"), (2L, "2024-01-01 23:30:00"),
      (3L, "2024-01-09 08:00:00"), (3L, "2024-01-23 08:00:00"))
      .toDF("user_id", "ts_s")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    val out = Temporal.cohortRetention(ev, "user_id", "ts", bucketDays = 7)
      .select("cohort_date", "week_offset", "n_users", "cohort_size", "retention")
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(out == Set(
      ("2024-01-01", 0L, 2L, 2L, 1.0),
      ("2024-01-01", 1L, 1L, 2L, 0.5),
      ("2024-01-09", 0L, 1L, 1L, 1.0),
      ("2024-01-09", 2L, 1L, 1L, 1.0)))
  }

  test("eventTransitions: consecutive pairs per user, shares sum to 1") {
    val ev = Seq(
      (1L, 1L, "v"), (1L, 2L, "c"), (1L, 3L, "c"),
      (2L, 4L, "v"), (2L, 5L, "p"))
      .toDF("user_id", "event_id", "event_type")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")) +
        expr("make_interval(0, 0, 0, 0, 0, 0, event_id)"))
    val out = Temporal.eventTransitions(ev, "user_id", "ts", "event_type", "event_id")
      .select("from_type", "to_type", "n", "n_from", "share")
      .as[(String, String, Long, Long, Double)].collect().toSet
    // user1: v->c, c->c; user2: v->p
    assert(out == Set(
      ("v", "c", 1L, 2L, 0.5), ("v", "p", 1L, 2L, 0.5),
      ("c", "c", 1L, 1L, 1.0)))
  }
}
