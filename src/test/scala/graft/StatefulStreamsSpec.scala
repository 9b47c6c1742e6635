package graft

import org.apache.spark.sql.functions._

import graft.streaming.Streams

class StatefulStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("running-total milestones emit once per crossed step") {
    val events = Seq(
      (1L, "2024-01-01 10:00:00", 60.0),
      (1L, "2024-01-01 10:05:00", 60.0),   // crosses 100
      (1L, "2024-01-01 10:10:00", 200.0),  // crosses 200 and 300
      (2L, "2024-01-01 10:00:00", 40.0))   // never crosses
      .toDF("user_id", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s")))
    val out = Streams.runningTotalAlerts(events, step = 100.0)
      .orderBy("user_id", "milestone")
      .as[(Long, Double, Long)].collect().toList
    assert(out.map(_._1) == List(1L, 1L))
    assert(out.map(_._3) == List(1L, 3L))   // milestones crossed: 1, then straight to 3
    assert(out.last._2 == 320.0)
  }

  test("streaming token budget across micro-batches == batch prefix cut") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = core.Tables.load(spark, sf001, "documents")
    val batch = graft.operators.Text.tokenBudgetMix(
        docs, "doc_id", "text", "source", budgetPerDomain = 800, nShards = 4)
      .as[(String, Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    // two files split BY BUCKET, so arrival order refines the batch
    // twin's global (bucket, id) admission order — the case where the
    // ingestion-time cap and the batch prefix cut must agree
    val bucket = graft.operators.Text.sampleBucket(col("doc_id"))
    val dir = tempDir("graft_budget_stream")
    // ONE file per half (a half split across parts would arrive in
    // arbitrary bucket order and legitimately diverge from the batch
    // prefix); explicit mtimes pin the micro-batch order
    docs.where(bucket < 500).repartition(1).write.parquet(s"$dir/p0")
    docs.where(bucket >= 500).repartition(1).write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_budget_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val target = srcDir.resolve(f"$n%03d.parquet")
          java.nio.file.Files.copy(f, target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
          n += 1
        }
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = graft.streaming.Streams.tokenBudgetStream(
        stream, budgetPerDomain = 800, nShards = 4)
      .writeStream.outputMode("append")
      .format("memory").queryName("budget_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("budget_out")
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-batch diff: ${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("streaming attribution across micro-batches == batch window scan") {
    import org.apache.spark.sql.streaming.Trigger
    val events = core.Tables.load(spark, sf001, "events")
    val batch = Streams.attributionStream(events)
      .groupBy("channel").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSet
    assert(batch.nonEmpty)
    // split ON THE TIME AXIS: every user's early events land in file
    // 0 and late events in file 1, so purchases in batch 2 must
    // attribute to touches remembered from batch 1 through state
    val mid = events.agg(
      // BOUNDED: single-row median timestamp aggregate (test-only)
      expr("percentile_approx(unix_micros(ts), 0.5)")).collect()(0).getLong(0)
    val dir = tempDir("graft_attr_stream")
    events.where(unix_micros(col("ts")) < mid).repartition(1)
      .write.parquet(s"$dir/p0")
    events.where(unix_micros(col("ts")) >= mid).repartition(1)
      .write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_attr_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val target = srcDir.resolve(f"$n%03d.parquet")
          java.nio.file.Files.copy(f, target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
          n += 1
        }
    }
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Streams.attributionStream(stream)
      .groupBy("channel").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("attr_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("attr_out").as[(String, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-batch diff: ${(streamed diff batch) ++ (batch diff streamed)}")
  }

  test("streaming near-dedup across micro-batches == batch verified pairs") {
    import org.apache.spark.sql.streaming.Trigger
    val docs = core.Tables.load(spark, sf001, "documents")
    val batch = graft.operators.Dedup.minhashVerifiedPairs(
        docs, "doc_id", "text", threshold = 0.25,
        shingleSize = 5, numHashes = 8, bandSize = 4, poly = true)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)

    // split the corpus into two parquet files and force one file per
    // micro-batch, so matches must cross BATCH boundaries through the
    // bucket state (not just within one invocation)
    val dir = tempDir("graft_neardup_stream")
    docs.where(col("doc_id") % 2 === 0).write.parquet(s"$dir/p0")
    docs.where(col("doc_id") % 2 === 1).write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_neardup_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          java.nio.file.Files.copy(f, srcDir.resolve(s"$n.parquet")); n += 1
        }
    }
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Streams.nearDupPairs(stream, threshold = 0.25)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("neardup_out")
      .select("a", "b").distinct().as[(Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(5)} batch-only=${(batch -- streamed).take(5)}")
  }

  test("streaming exact-dedup ingest gate across micro-batches == batch window rank") {
    import org.apache.spark.sql.streaming.Trigger
    // the sf0.001 corpus has no exact dups — plant 20 (same text,
    // id + 10000) so the gate has something to catch; planted ids
    // flip parity, so half the dups cross the micro-batch split below
    val raw = core.Tables.load(spark, sf001, "documents")
      .select("doc_id", "text")
    val docs = raw.unionByName(
      raw.where(col("doc_id") < 20)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val batch = Streams.exactIngestGate(docs)
      .as[(Long, String, Boolean)].collect().toSet
    assert(batch.nonEmpty)
    assert(batch.count(_._3) == 20, "planted dups not all flagged in batch mode")
    // independent sequential reference: JVM MessageDigest md5 of the
    // lowercased UTF-8 text, first-seen fold in id order
    val ref = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val seen = scala.collection.mutable.HashSet[String]()
      docs.select("doc_id", "text").as[(Long, String)].collect()
        .sortBy(_._1).map { case (id, text) =>
          val ck = md.digest(text.toLowerCase(java.util.Locale.ROOT)
              .getBytes("UTF-8")).map("%02x".format(_)).mkString
          val dup = !seen.add(ck)
          (id, ck, dup)
        }.toSet
    }
    assert(batch == ref, s"batch-vs-ref diff: ${(batch diff ref).take(3)} ${(ref diff batch).take(3)}")
    // split by id parity and force one file per micro-batch: a dup
    // whose FIRST occurrence arrived in batch 1 must still flag in
    // batch 2, through the seen-key state
    val dir = tempDir("graft_ingest_stream")
    docs.where(col("doc_id") % 2 === 0).repartition(1).write.parquet(s"$dir/p0")
    docs.where(col("doc_id") % 2 === 1).repartition(1).write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_ingest_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val target = srcDir.resolve(f"$n%03d.parquet")
          java.nio.file.Files.copy(f, target)
          java.nio.file.Files.setLastModifiedTime(target,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
          n += 1
        }
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Streams.exactIngestGate(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("ingest_out")
      .as[(Long, String, Boolean)].collect().toSet
    // the streaming admission order is ARRIVAL order (evens first),
    // not global id order — project to per-KEY dup counts, which both
    // orders must agree on (same set of keys, one admit per key)
    def perKey(s: Set[(Long, String, Boolean)]) =
      s.groupBy(_._2).view.mapValues(g => (g.size, g.count(_._3))).toMap
    assert(perKey(streamed) == perKey(batch))
    // and any id whose key appeared in batch 1 (even twin with a
    // smaller id... or any even id sharing its key) must flag as dup
    val evenKeys = streamed.filter(_._1 % 2 == 0).map(_._2)
    streamed.filter(r => r._1 % 2 == 1 && evenKeys.contains(r._2))
      .foreach { r => assert(r._3, s"cross-batch dup ${r._1} not flagged") }
  }

  test("cached shingle signature Jaccard == exact string-kernel Jaccard (r14 state cache)") {
    // the stateful signature cache replaces per-pair ShingleJaccard
    // kernel calls with merge-intersections of cached sorted 64-bit
    // signatures — pin value equality on real corpus text, all pairs
    // of a bounded sample (plus the degenerate short-text rule)
    val texts = core.Tables.load(spark, sf001, "documents")
      .orderBy("doc_id").limit(30).select("text").as[String].collect()
    val sj = graft.functions.Expressions.ShingleJaccard(
      org.apache.spark.sql.catalyst.expressions.Literal.create("", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal.create("", org.apache.spark.sql.types.StringType), 5)
    val sigs = texts.map(t => graft.functions.Expressions.shingleSig(t, 5))
    for (i <- texts.indices; j <- texts.indices if i < j) {
      val exact = sj.kernel(
        org.apache.spark.unsafe.types.UTF8String.fromString(texts(i)),
        org.apache.spark.unsafe.types.UTF8String.fromString(texts(j)))
      val cached = graft.functions.Expressions.sigJaccard(sigs(i), sigs(j))
      assert(cached == exact, s"pair ($i,$j): sig=$cached kernel=$exact")
    }
    // short texts collapse to ONE shingle in both representations
    assert(graft.functions.Expressions.sigJaccard(
      graft.functions.Expressions.shingleSig("ab", 5),
      graft.functions.Expressions.shingleSig("AB", 5)) == 1.0)
  }

  test("streaming CEP across micro-batches == batch lead-window pattern") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = core.Tables.load(spark, sf001, "events")
    val batch = SparkEntry.queries("ev_cep_pattern")(spark, sf001)
      .select("user_id", "view_id", "click_id", "purchase_id", "span_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty)

    // split by event TIME (per-user in-order arrival — the source
    // contract), one file per micro-batch, so patterns must span the
    // batch boundary through the per-user state
    val mid = ev.select(expr("percentile(unix_micros(ts), 0.5)"))
      .head.getDouble(0).toLong
    val dir = tempDir("graft_cep_stream")
    // one file per half: within a micro-batch the state fn sorts by
    // (ts, id); ACROSS batches arrival order must follow event time
    ev.where(unix_micros(col("ts")) <= mid).repartition(1).write.parquet(s"$dir/p0")
    ev.where(unix_micros(col("ts")) > mid).repartition(1).write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_cep_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val dst = srcDir.resolve(s"$n.parquet")
          java.nio.file.Files.copy(f, dst)
          // pin mtimes so micro-batch order follows event time (the
          // file source orders by modification time; same-millisecond
          // copies would make the order arbitrary)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
          n += 1
        }
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Streams.streamCepMatches(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("cep_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("cep_out")
      .select("user_id", "view_id", "click_id", "purchase_id", "span_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("streaming rolling anomaly across micro-batches == batch window twin") {
    import org.apache.spark.sql.streaming.Trigger
    val ev = core.Tables.load(spark, sf001, "events")
    val batch = graft.operators.Temporal.rollingAnomaly(
        ev, "user_id", "ts", "event_id", "value")
      .select("user_id", "event_id", "z", "is_anomaly")
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet
    assert(batch.exists(_._4), "batch twin must flag at least one anomaly")

    // split by event TIME so trailing windows must span the batch
    // boundary through the per-user state
    val mid = ev.select(expr("percentile(unix_micros(ts), 0.5)"))
      .head.getDouble(0).toLong
    val dir = tempDir("graft_anom_stream")
    ev.where(unix_micros(col("ts")) <= mid).repartition(1).write.parquet(s"$dir/p0")
    ev.where(unix_micros(col("ts")) > mid).repartition(1).write.parquet(s"$dir/p1")
    val srcDir = tempDir("graft_anom_src")
    var n = 0
    Seq("p0", "p1").foreach { p =>
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$p"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          val dst = srcDir.resolve(s"$n.parquet")
          java.nio.file.Files.copy(f, dst)
          // the file source orders micro-batches by modification time;
          // two quick copies can land in the same millisecond, which
          // would feed the halves in arbitrary order — pin the mtimes
          // so arrival follows event time (the source contract)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1700000000000L + n * 60000L))
          n += 1
        }
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Streams.anomalyStream(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("anom_out")
      .select("user_id", "event_id", "z", "is_anomaly")
      .as[(Long, Long, Option[Double], Boolean)].collect().toSet
    assert(streamed == batch,
      s"stream-only=${(streamed -- batch).take(3)} batch-only=${(batch -- streamed).take(3)}")
  }

  test("CDC foreachBatch apply == batch current state, however batched") {
    // multi-file copy so maxFilesPerTrigger=1 yields several
    // micro-batches; file order is whatever the source lists, and the
    // final state must be identical anyway (newer-wins merge)
    val ev = graft.core.Tables.load(spark, sf001, "events")
    val srcDir = tempDir("graft_cdc_src").toString
    ev.repartition(5).write.mode("overwrite").parquet(srcDir)
    val batch = Streams.cdcCurrentState(ev)
      .as[(Long, java.sql.Timestamp, String, Double, Long)]
      .collect().toSet
    Seq(1, 3).foreach { mfpt =>
      val stateDir = tempDir(s"graft_cdc_state_$mfpt").toString
      val fin = Streams.cdcApplyStream(spark, srcDir, stateDir,
          maxFilesPerTrigger = mfpt)
        .as[(Long, java.sql.Timestamp, String, Double, Long)]
        .collect().toSet
      assert(fin == batch,
        s"mfpt=$mfpt stream-only=${(fin -- batch).take(3)} batch-only=${(batch -- fin).take(3)}")
    }
  }


  /** Wait until the phase's file has been committed by the source
    * AND its batch has finished, then return (caller stops the
    * query). awaitTermination is useless here: a
    * flatMapGroupsWithState query with armed ProcessingTimeTimeouts
    * never terminates on its own — "no new data but cleaning up
    * state" batches keep running (~4/s observed), even under
    * AvailableNow — and those same cleanup batches evict the data
    * batch from recentProgress, so progress-sum waits are unreliable
    * too. The source's checkpoint entry sources/0/<seq> is the
    * authoritative "file seq entered a batch" marker; two further
    * batch completions (or query termination, the TTL-off case)
    * guarantee that batch committed its state. */
  private def settle(q: org.apache.spark.sql.streaming.StreamingQuery,
                     ckpt: String, seq: Int): Unit = {
    val marker = java.nio.file.Paths.get(ckpt, "sources", "0", seq.toString)
    val dl = System.currentTimeMillis + 90000
    while (System.currentTimeMillis < dl &&
           !java.nio.file.Files.exists(marker) && q.exception.isEmpty)
      Thread.sleep(100)
    assert(q.exception.isEmpty, s"query failed: ${q.exception.map(_.toString)}")
    assert(java.nio.file.Files.exists(marker),
      s"source never committed file $seq; status=${q.status}")
    def bid = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val b0 = bid
    while (System.currentTimeMillis < dl && q.isActive && bid <= b0 + 1)
      Thread.sleep(100)
    assert(q.exception.isEmpty, s"query failed: ${q.exception.map(_.toString)}")
  }

  /** The TTL restart protocol: one AvailableNow run of `op` per frame
    * of `phases`, each restarting from one checkpoint, with a 1.2 s
    * sleep after the first, past the 400 ms TTL the tests arm. The
    * ProcessingTimeTimeout timestamps live IN the state, so expiry
    * fires in whichever later run's batch observes the clock past
    * them; a continuously running trigger would never quiesce, since
    * armed timeouts schedule batches forever. The second frame is the
    * tick: a batch for another key, whose run lets the idle key
    * expire. Returns every row the runs wrote. */
  private def ttlRuns(phases: Seq[org.apache.spark.sql.DataFrame])(
      op: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.streaming.Trigger
    val base = tempDir("graft_ttl").toString
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    phases.zipWithIndex.foreach { case (rows, seq) =>
      if (seq == 1) Thread.sleep(1200) // sit out the 400 ms TTL
      rows.repartition(1).write.parquet(s"$src/b$seq")
      // flatten: file source watches one dir
      java.nio.file.Files.list(java.nio.file.Paths.get(s"$src/b$seq"))
        .filter(_.toString.endsWith(".parquet"))
        .forEach { f =>
          java.nio.file.Files.copy(f,
            java.nio.file.Paths.get(src).resolve(s"f$seq.parquet"))
        }
      val schema = spark.read.parquet(s"$src/f$seq.parquet").schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "f*.parquet").parquet(src)
      val q = op(stream)
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      settle(q, ckpt, seq); q.stop()
    }
    val p = java.nio.file.Paths.get(out)
    val parts = if (!java.nio.file.Files.exists(p)) 0L
      else java.nio.file.Files.list(p).filter(_.toString.endsWith(".parquet")).count()
    if (parts == 0) Seq.empty else spark.read.parquet(out).collect().toSeq
  }

  test("state TTL drops an idle key's state; TTL off preserves it (running totals)") {
    // VERDICT r10 #3: the TTL seam must actually DROP state. Protocol
    // (ttlRuns):
    //   run 1: user 1 accumulates 80 (below step 100), TTL armed
    //   sleep past the TTL
    //   run 2: a batch for user 2 ticks the engine -> user 1 expires
    //   run 3: user 1 sends 80 again
    // TTL on: restart total is 80, no alert ever. TTL off: 160, the
    // milestone fires. Same three batches both ways.
    def run(ttl: Option[Long]): Set[(Long, Double, Long)] = {
      val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      ttlRuns(Seq((1L, 80.0), (2L, 1.0), (1L, 80.0)).map { case (user, v) =>
          Seq((user, ts, v)).toDF("user_id", "ts", "value")
        })(st => Streams.runningTotalAlerts(st, step = 100.0, stateTtlMs = ttl))
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    }
    val withTtl = run(Some(400L))
    assert(!withTtl.exists(_._1 == 1L),
      s"TTL failed to drop user 1's state — alerts emitted: $withTtl")
    val noTtl = run(None)
    assert(noTtl.contains((1L, 160.0, 1L)),
      s"TTL-off run lost state it should have kept: $noTtl")
  }

  test("state TTL drops CEP prefix and near-dup horizon after idle") {
    // the ttlRuns protocol of the running-total TTL test
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:01")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:02")
    val doc = "the quick brown fox jumps over the lazy dog again and again"

    // CEP: view+click land, user idles past the TTL, purchase arrives
    // -> prefix dropped, pattern must NOT fire
    val cep = ttlRuns(Seq(
        Seq((7L, 1L, t0, "view"), (7L, 2L, t1, "click")),
        Seq((8L, 9L, t1, "view")), // expiry tick
        Seq((7L, 3L, t2, "purchase"))
      ).map(_.toDF("user_id", "event_id", "ts", "event_type")))(
      st => Streams.streamCepMatches(st, stateTtlMs = Some(400L)))
    assert(cep.isEmpty, "CEP prefix survived the TTL — pattern fired after idle gap")

    // near-dedup: identical doc re-sent after the TTL -> horizon
    // dropped, no pair
    val nd = ttlRuns(Seq(
        Seq((1L, doc)),
        Seq((9L, "unrelated text entirely")), // expiry tick
        Seq((2L, doc))
      ).map(_.toDF("doc_id", "text")))(
      st => Streams.nearDupPairs(st, threshold = 0.5, stateTtlMs = Some(400L)))
    assert(nd.isEmpty, "near-dup horizon survived the TTL — pair emitted after idle gap")

    // attribution: a touch lands, the user idles past the TTL, a
    // purchase arrives -> the touch is gone and the purchase is
    // 'direct'; TTL off, it keeps the touch's channel
    def attribution(ttl: Option[Long]): Seq[String] =
      ttlRuns(Seq(
          Seq((5L, t0, 1L, "click", 0.0)),
          Seq((6L, t1, 2L, "view", 0.0)), // expiry tick
          Seq((5L, t2, 3L, "purchase", 9.5))
        ).map(_.toDF("user_id", "ts", "event_id", "event_type", "value")))(
        st => Streams.attributionStream(st, stateTtlMs = ttl))
        .map(_.getString(0))
    val expired = attribution(Some(400L))
    assert(expired == Seq("direct"), s"attribution touch survived the TTL: $expired")
    val kept = attribution(None)
    assert(kept == Seq("click"), s"TTL-off attribution lost the touch: $kept")
  }
}
