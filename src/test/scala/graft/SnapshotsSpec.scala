package graft

import org.apache.spark.sql.functions._

import graft.sources.Snapshots

/** Manifest-versioned snapshots: commit, time travel, file-level
  * copy-on-write sharing, manifest round-trip. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir = tempDir("graft_snap").toString

  test("commit + time-travel read returns each version's exact content") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    // v2: rewrite bucket 0 only, v doubled there
    val v2c = base.where(pmod(col("k"), lit(4)) === 0)
      .withColumn("v", col("v") * 2)
    val m2 = Snapshots.commit(v2c, tdir, 2, bucket, nBuckets = 4,
      parent = Some(m1), touched = Some(Set(0)))

    val v1 = Snapshots.read(spark, m1).as[(Long, Double)].collect().sortBy(_._1)
    assert(v1.toSeq == (0L until 64L).map(k => (k, k * 1.5)))
    val v2 = Snapshots.read(spark, m2).as[(Long, Double)].collect().sortBy(_._1)
    assert(v2.toSeq == (0L until 64L).map(k =>
      (k, if (k % 4 == 0) k * 3.0 else k * 1.5)))
  }

  test("additive schema evolution: merged read null-fills exactly the inherited buckets") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    // v2 ADDS column w, rewriting bucket 0 only
    val v2c = base.where(pmod(col("k"), lit(4)) === 0)
      .withColumn("w", col("k") * 10)
    val m2 = Snapshots.commit(v2c, tdir, 2, bucket, nBuckets = 4,
      parent = Some(m1), touched = Some(Set(0)))
    // COW sharing holds across the schema boundary
    assert(Snapshots.cowShared(m1, m2, Set(0)))
    // v1 is untouched by the evolution: no new column
    assert(!Snapshots.read(spark, m1).columns.contains("w"))
    // the merged read fills w with NULL exactly on inherited rows
    val got = Snapshots.readMerged(spark, m2)
      .select(col("k"), col("v"), col("w"))
      .as[(Long, Double, Option[Long])].collect().sortBy(_._1)
    assert(got.length == 64)
    got.foreach { case (k, v, w) =>
      assert(v == k * 1.5, s"k=$k")
      if (k % 4 == 0) assert(w.contains(k * 10), s"k=$k")
      else assert(w.isEmpty, s"k=$k should be NULL-filled")
    }
  }

  test("copy-on-write shares untouched buckets' files verbatim") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k.toString)).toDF("k", "s")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    val m2 = Snapshots.commit(
      base.where(pmod(col("k"), lit(4)) === 1).withColumn("s", lit("x")),
      tdir, 2, bucket, nBuckets = 4, parent = Some(m1), touched = Some(Set(1)))
    assert(Snapshots.cowShared(m1, m2, Set(1)))
    // the inherited buckets are the SAME paths (shared bytes)
    (Set(0, 2, 3)).foreach(b => assert(m2.files(b) == m1.files(b), s"bucket $b"))
    assert(m2.files(1) != m1.files(1))
    // and the check is not vacuous: wrong touched-set fails it
    assert(!Snapshots.cowShared(m1, m2, Set(0)))
  }

  test("manifests round-trip through JSON and drive readVersion") {
    val tdir = freshDir
    val base = (0L until 16L).map(k => (k, k * 2)).toDF("k", "v")
    val m1 = Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(2)), nBuckets = 2)
    val loaded = Snapshots.loadManifest(tdir, 1)
    assert(loaded == m1)
    assert(Snapshots.readVersion(spark, tdir, 1).count() == 16)
    intercept[IllegalArgumentException] {
      Snapshots.loadManifest(tdir, 99)
    }
  }

  test("initial commit must cover every bucket") {
    val tdir = freshDir
    val base = (0L until 8L).map(k => (k, k)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(2)), nBuckets = 2,
        touched = Some(Set(0)))
    }
  }

  test("equality-delete commit removes keys without rewriting data files") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val m1 = Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(4)), nBuckets = 4)
    val m2 = Snapshots.deleteCommit(base.where(col("k") % 10 === 3),
      tdir, 2, keyCol = "k", parent = m1)
    // data files are INHERITED verbatim — a delete never rewrites
    assert(m2.files == m1.files)
    assert(m2.deletes.size == 1 && m2.deleteKey.contains("k"))
    val v2 = Snapshots.read(spark, m2).as[(Long, Double)].collect().sortBy(_._1)
    assert(v2.toSeq == (0L until 64L).filter(_ % 10 != 3).map(k => (k, k * 1.5)))
    // v1 still reads the full content (time travel across the delete)
    assert(Snapshots.read(spark, m1).count() == 64)
  }

  test("delete commits accumulate and round-trip through the manifest JSON") {
    val tdir = freshDir
    val base = (0L until 40L).map(k => (k, k)).toDF("k", "v")
    val m1 = Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(2)), nBuckets = 2)
    val m2 = Snapshots.deleteCommit(base.where(col("k") < 5), tdir, 2, "k", m1)
    val m3 = Snapshots.deleteCommit(base.where(col("k") >= 35), tdir, 3, "k", m2)
    assert(m3.deletes.size == 2 && m3.files == m1.files)
    val loaded = Snapshots.loadManifest(tdir, 3)
    assert(loaded == m3)
    val v3 = Snapshots.readVersion(spark, tdir, 3)
      .as[(Long, Long)].collect().map(_._1).sorted
    assert(v3.toSeq == (5L until 35L))
    // key-column mismatch with the parent's delete key is refused
    intercept[IllegalArgumentException] {
      Snapshots.deleteCommit(base.limit(1).withColumnRenamed("k", "other"),
        tdir, 4, "other", m3)
    }
  }

  test("protocol model check: random delete/compact/rewrite sequences time-travel exactly") {
    val nB = 4
    def dfOf(m: Map[Long, Long]) = m.toSeq.sortBy(_._1).toDF("k", "v")
    def readBack(m: Snapshots.Manifest): Map[Long, Long] =
      Snapshots.read(spark, m).as[(Long, Long)].collect().toMap
    for (seed <- Seq(11, 47)) {
      val rnd = new scala.util.Random(seed)
      val tdir = freshDir
      val bucket = pmod(col("k"), lit(nB))
      var model: Map[Long, Long] = (0L until 48L).map(k => k -> k * 2).toMap
      var m = Snapshots.commit(dfOf(model), tdir, 1, bucket, nB)
      var states = Vector(model) // states(i) = expected content of version i+1
      var nextKey = 1000L
      for (_ <- 1 to 6) {
        val v = states.size + 1
        if (m.deletes.nonEmpty) {
          // a data commit over live deletes must be refused, not lossy
          intercept[IllegalArgumentException] {
            Snapshots.commit(dfOf(model), tdir, v, bucket, nB,
              parent = Some(m), touched = Some(Set(0)))
          }
          if (rnd.nextBoolean()) { // compact: content unchanged
            m = Snapshots.compact(spark, tdir, v, bucket, nB, m)
          } else { // stack another delete
            val doomed = model.keySet.filter(_ => rnd.nextInt(5) == 0)
            model = model -- doomed
            m = Snapshots.deleteCommit(doomed.toSeq.toDF("k"), tdir, v, "k", m)
          }
        } else if (rnd.nextBoolean()) { // first delete of a stack
          val doomed = model.keySet.filter(_ => rnd.nextInt(5) == 0)
          model = model -- doomed
          m = Snapshots.deleteCommit(doomed.toSeq.toDF("k"), tdir, v, "k", m)
        } else { // copy-on-write rewrite of a random touched set
          val touched = (0 until nB).filter(_ => rnd.nextBoolean()) match {
            case Nil => Set(0)
            case s   => s.toSet
          }
          val delta = rnd.nextInt(90) + 1L
          model = model.map { case (k, x) =>
            k -> (if (touched(((k % nB) + nB).toInt % nB)) x + delta else x)
          }
          nextKey += 1 // occasional insert routed to a touched bucket
          val ins = nextKey * nB + touched.head
          model += ins -> ins
          m = Snapshots.commit(dfOf(model), tdir, v, bucket, nB,
            parent = Some(m), touched = Some(touched))
        }
        states :+= model
        assert(readBack(m) == model, s"seed=$seed v=$v live read drifted")
      }
      // FULL time travel: every version still reads its exact state,
      // including versions superseded by deletes and compactions
      states.zipWithIndex.foreach { case (st, i) =>
        assert(readBack(Snapshots.loadManifest(tdir, i + 1)) == st,
          s"seed=$seed version ${i + 1} time travel drifted")
      }
    }
  }

  test("expire removes only old-version-only files; retained versions still read") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    // v2 rewrites bucket 0 only — buckets 1-3 stay SHARED with v1
    val m2 = Snapshots.commit(
      base.where(pmod(col("k"), lit(4)) === 0).withColumn("v", col("v") * 2),
      tdir, 2, bucket, nBuckets = 4, parent = Some(m1), touched = Some(Set(0)))
    val (nLive, nExpired) = Snapshots.expire(tdir, keepFrom = 2, upTo = 2)
    // only v1's superseded bucket-0 files die; the shared ones survive
    assert(nExpired > 0 && nLive > 0)
    m1.files(0).foreach(f => assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f))))
    (1 to 3).foreach(b => m2.files(b).foreach(f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f)), s"shared file $f expired")))
    // v2 reads complete content; v1 is gone
    assert(Snapshots.read(spark, m2).count() == 64)
    intercept[Exception] { Snapshots.read(spark, m1).count() }
    intercept[IllegalArgumentException] { Snapshots.expire(tdir, 0, 2) }
  }

  test("two-writer race: exactly one wins the version CAS; loser rebases and retries") {
    val nB = 4
    def dfOf(m: Map[Long, Long]) = m.toSeq.sortBy(_._1).toDF("k", "v")
    def readBack(m: Snapshots.Manifest): Map[Long, Long] =
      Snapshots.read(spark, m).as[(Long, Long)].collect().toMap
    for (seed <- Seq(7, 93)) {
      val rnd = new scala.util.Random(seed)
      val tdir = freshDir
      val bucket = pmod(col("k"), lit(nB))
      var model: Map[Long, Long] = (0L until 32L).map(k => k -> k).toMap
      var m = Snapshots.commit(dfOf(model), tdir, 1, bucket, nB)
      for (round <- 1 to 3) {
        val v = m.version + 1
        // two writers, disjoint touched buckets, same target version —
        // a latch releases both as close to simultaneously as possible
        val deltas = Seq(0, 1).map(b => b -> (rnd.nextInt(50) + 1L)).toMap
        def content(base: Map[Long, Long], b: Int): Map[Long, Long] =
          base.map { case (k, x) => k -> (if (k % nB == b) x + deltas(b) else x) }
        val latch = new java.util.concurrent.CountDownLatch(1)
        val base0 = model
        val attempts = Seq(0, 1).map { b =>
          val t = new java.util.concurrent.FutureTask(() =>
            try {
              latch.await()
              Right(b -> Snapshots.commit(dfOf(content(base0, b)), tdir, v,
                bucket, nB, parent = Some(m), touched = Some(Set(b))))
                : Either[(Int, Throwable), (Int, Snapshots.Manifest)]
            } catch { case e: Throwable => Left(b -> rootOf(e)) })
          new Thread(t).start(); t
        }
        latch.countDown()
        val outcomes = attempts.map(_.get())
        val wins = outcomes.collect { case Right(w) => w }
        val losses = outcomes.collect { case Left(l) => l }
        assert(wins.size == 1 && losses.size == 1,
          s"seed=$seed round=$round expected exactly one CAS winner, got $outcomes")
        val (winB, winM) = wins.head
        val (loseB, err) = losses.head
        assert(err.isInstanceOf[Snapshots.SnapshotConflict],
          s"seed=$seed loser must fail with SnapshotConflict, got $err")
        // winner's commit is intact despite the concurrent staging
        model = content(base0, winB)
        assert(readBack(winM) == model, s"seed=$seed round=$round winner clobbered")
        // optimistic retry: loser reloads the latest version and rebases
        val latest = Snapshots.latestVersion(tdir)
        assert(latest.contains(v))
        val rebased = Snapshots.loadManifest(tdir, v)
        model = content(model, loseB)
        m = Snapshots.commit(dfOf(content(readBack(rebased), loseB)), tdir, v + 1,
          bucket, nB, parent = Some(rebased), touched = Some(Set(loseB)))
        assert(readBack(m) == model, s"seed=$seed round=$round rebase drifted")
      }
    }
  }

  private def rootOf(e: Throwable): Throwable = {
    // the loser's conflict may arrive wrapped (ExecutionException)
    var c = e
    while (c.getCause != null && !c.isInstanceOf[Snapshots.SnapshotConflict])
      c = c.getCause
    c
  }

  test("expired versions fail at manifest load with a typed protocol error") {
    val tdir = freshDir
    val base = (0L until 32L).map(k => (k, k)).toDF("k", "v")
    val bucket = pmod(col("k"), lit(2))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 2)
    Snapshots.commit(base.withColumn("v", col("v") + 1), tdir, 2, bucket,
      nBuckets = 2, parent = Some(m1), touched = Some(Set(0, 1)))
    // expiring a prefix while ignoring newer versions is refused:
    // the ref-count is only sound over the full graph
    intercept[IllegalArgumentException] { Snapshots.expire(tdir, 1, 1) }
    val (_, nExpired) = Snapshots.expire(tdir, keepFrom = 2, upTo = 2)
    assert(nExpired > 0)
    // protocol-level error, not a raw parquet path failure
    intercept[Snapshots.SnapshotExpired] { Snapshots.loadManifest(tdir, 1) }
    intercept[Snapshots.SnapshotExpired] { Snapshots.readVersion(spark, tdir, 1) }
    // re-running the same expiry is idempotent (tombstones are not errors)
    val (_, again) = Snapshots.expire(tdir, keepFrom = 2, upTo = 2)
    assert(again == 0)
    // retained version unaffected
    assert(Snapshots.readVersion(spark, tdir, 2).count() == 32)
  }

  test("compact folds deletes into fresh data files, content unchanged") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    val m2 = Snapshots.deleteCommit(base.where(col("k") % 4 === 2),
      tdir, 2, "k", m1)
    val m3 = Snapshots.compact(spark, tdir, 3, bucket, nBuckets = 4, m2)
    // physical change: all-new data files, no surviving delete files
    assert(m3.deletes.isEmpty)
    assert(m3.allFiles.toSet.intersect(m2.allFiles.toSet).isEmpty)
    // logical no-op: compacted content == pre-compaction read
    val before = Snapshots.read(spark, m2).as[(Long, Double)].collect().sortBy(_._1)
    val after = Snapshots.read(spark, m3).as[(Long, Double)].collect().sortBy(_._1)
    assert(after.toSeq == before.toSeq && after.nonEmpty)
    // compacting a version with nothing to fold is refused
    intercept[IllegalArgumentException] {
      Snapshots.compact(spark, tdir, 4, bucket, nBuckets = 4, m3)
    }
  }

  test("delete commit runs 2 jobs and writes one file holding the distinct keys") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5)).toDF("k", "v")
    val m1 = Snapshots.commit(base, tdir, 1, pmod(col("k"), lit(4)), nBuckets = 4)
    // every key to delete appears twice: the commit must dedup
    val keys = base.where(col("k") % 5 === 0).unionByName(base.where(col("k") % 5 === 0))
    val (m2, jobs) = jobsStarted(Snapshots.deleteCommit(keys, tdir, 2, "k", m1))
    assert(jobs == 2, s"delete commit ran $jobs jobs")
    assert(m2.deletes.size == 1)
    val written = spark.read.parquet(m2.deletes: _*).as[Long].collect().toSeq
    assert(written.sorted == (0L until 64L).filter(_ % 5 == 0))
  }

  test("snapshot reads keep the inferred schema and build without a Spark job") {
    val tdir = freshDir
    val base = (0L until 64L).map(k => (k, k * 1.5, s"s$k")).toDF("k", "v", "s")
    val bucket = pmod(col("k"), lit(4))
    val m1 = Snapshots.commit(base, tdir, 1, bucket, nBuckets = 4)
    val m2 = Snapshots.deleteCommit(base.where(col("k") < 8), tdir, 2, "k", m1)
    val inferred = spark.read.parquet(m2.allFiles: _*)
      .join(broadcast(spark.read.parquet(m2.deletes: _*).select(col("k"))), Seq("k"), "left_anti")
    val (frames, jobs) = jobsStarted(Seq(Snapshots.read(spark, m1), Snapshots.read(spark, m2)))
    assert(jobs == 0, s"$jobs job(s) started while only building snapshot frames")
    assert(frames(1).schema == inferred.schema)
    assert(frames(1).schema == Snapshots.readMerged(spark, m2).schema)
    assert(frames(1).count() == 56 && frames(0).count() == 64)
  }
}
