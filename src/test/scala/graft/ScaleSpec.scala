package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Skew
import graft.sources.Bucketed

class SkewSpec extends SparkSpec {

  test("salted join == plain join under heavy key skew") {
    import spark.implicits._
    // 90% of the fact rows share one key
    val fact = (1L to 20000L).map(i => (if (i % 10 == 0) i % 50 else 1L, i))
      .toDF("k", "payload")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).agg(
      count(lit(1)), sum("payload")).collect()(0)
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), factor = 8).agg(
      count(lit(1)), sum("payload")).collect()(0)
    assert(plain == salted)
  }

  test("left join keeps unmatched rows under salting") {
    import spark.implicits._
    val fact = Seq((1L, "a"), (2L, "b"), (99L, "zz")).toDF("k", "v")
    val dim = Seq((1L, "x"), (2L, "y")).toDF("k", "w")
    val out = Skew.saltedJoin(fact, dim, Seq("k"), factor = 4, joinType = "left")
    assert(out.count() == 3)
    assert(out.where(col("k") === 99 && col("w").isNull).count() == 1)
  }

  test("autoJoin: uniform keys pick the plain join, output unchanged") {
    import spark.implicits._
    // skew 0: every key appears exactly 400 times -> skew_ratio = 1.0
    val fact = (1L to 20000L).map(i => (i % 50, i)).toDF("k", "payload")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val (joined, factor) = Skew.autoJoin(fact, dim, Seq("k"))
    assert(factor == 1, s"uniform distribution must not salt, got $factor")
    val plain = fact.join(dim, Seq("k")).agg(
      count(lit(1)), sum("payload")).collect()(0)
    assert(joined.agg(count(lit(1)), sum("payload")).collect()(0) == plain)
  }

  test("autoJoin: extreme skew salts with a derived factor, output unchanged") {
    import spark.implicits._
    // one key holds ~all rows — the single-literal-key shape AQE
    // can't split pre-shuffle
    val fact = (1L to 20000L).map(i => (if (i % 1000 == 0) i % 50 else 1L, i))
      .toDF("k", "payload")
    val dim = (0L until 50L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val (joined, factor) = Skew.autoJoin(fact, dim, Seq("k"), maxFactor = 16)
    assert(factor > 1 && factor <= 16, s"hot key must salt, got $factor")
    val plain = fact.join(dim, Seq("k")).agg(
      count(lit(1)), sum("payload")).collect()(0)
    assert(joined.agg(count(lit(1)), sum("payload")).collect()(0) == plain)
    // left join path keeps unmatched rows too
    val factU = fact.withColumn("k",
      when(col("payload") === 7L, lit(999L)).otherwise(col("k")))
    val (leftJ, _) = Skew.autoJoin(factU, dim, Seq("k"), joinType = "left")
    assert(leftJ.where(col("k") === 999L && col("name").isNull).count() == 1)
  }

  test("autoJoin: multi-key decision uses the combined key distribution") {
    import spark.implicits._
    // (k1,k2) combined is uniform even though k1 alone is constant —
    // the combined-key report must NOT salt
    val fact = (1L to 8000L).map(i => (1L, i % 40, i)).toDF("k1", "k2", "payload")
    val dim = (0L until 40L).map(k => (1L, k, s"d_$k")).toDF("k1", "k2", "name")
    val (joined, factor) = Skew.autoJoin(fact, dim, Seq("k1", "k2"))
    assert(factor == 1, s"combined key is uniform, got factor=$factor")
    assert(joined.count() == 8000L)
    assert(!joined.columns.contains("_ck"), "decision column must not leak")
  }

  test("autoJoin: NULL key components stay distinct in the composite (ADVICE r10)") {
    import spark.implicits._
    // ('x', null) and (null, 'x') must NOT collapse onto one composite:
    // concat_ws silently skips nulls, which would read a fake 50% hot
    // key on this distribution. With explicit null encoding the top-1
    // share is 25% -> below the default lane threshold -> no salt.
    val fact = (1L to 4000L).map { i =>
      (i % 4) match {
        case 0 => (Some("x"), None: Option[String], i)
        case 1 => (None: Option[String], Some("x"), i)
        case 2 => (Some("a"), Some("b"), i)
        case _ => (Some("c"), Some("d"), i)
      }
    }.toDF("k1", "k2", "payload")
    val dim = Seq(
      (Some("a"), Some("b"), "ab"), (Some("c"), Some("d"), "cd"))
      .toDF("k1", "k2", "name")
    val (joined, factor) = Skew.autoJoin(fact, dim, Seq("k1", "k2"))
    assert(factor == 1,
      s"4-way-uniform incl. null slots must not salt (null-collapse bug), got $factor")
    // null join keys never match -> only the non-null half joins
    assert(joined.count() == 2000L)
  }

  test("skewReport: heavy hitter surfaces with exact share and ratio") {
    import spark.implicits._
    // key 7 holds 60 of 100 rows; 40 singleton keys
    val df = ((1 to 60).map(_ => 7L) ++ (100L until 140L)).toDF("k")
    val rep = Skew.skewReport(df, "k", topK = 3).collect()
    assert(rep.length == 3)
    val top = rep(0)
    assert(top.getAs[Long]("rank") == 1L && top.getAs[String]("key") == "7")
    assert(top.getAs[Long]("n") == 60L)
    assert(top.getAs[Double]("share") == 0.6)
    assert(top.getAs[Long]("n_keys") == 41L)
    // skew_ratio = max / mean = 60 / (100/41) = 24.6
    assert(top.getAs[Double]("skew_ratio") == 24.6)
    // rank-2/3: singleton keys, tie-broken by key string ascending
    assert(rep(1).getAs[String]("key") == "100" && rep(2).getAs[String]("key") == "101")
  }
}

class LshScalingSpec extends SparkSpec {
  import graft.operators.Vectors

  test("planes scale with corpus size: expected bucket occupancy stays O(1)") {
    // 2^planes tracks n/bucketTarget, so n / 2^planes <= bucketTarget
    // at every corpus size — the fixed-parameterization quadratic
    // blowup (VERDICT r01 #3) cannot happen by construction.
    for (n <- Seq(100L, 1000L, 10000L, 1000000L, 1000000000L)) {
      val p = Vectors.planesFor(n, bucketTarget = 16)
      val expectedOccupancy = n.toDouble / math.pow(2, p)
      assert(expectedOccupancy <= 16.0,
        s"n=$n planes=$p occupancy=$expectedOccupancy")
      assert(p <= 63)
    }
    // and doubling the corpus adds exactly one plane (halves buckets)
    assert(Vectors.planesFor(2048, 16) == Vectors.planesFor(1024, 16) + 1)
  }

  test("within-bucket candidate work per doc is bounded on real embeddings") {
    val e = Tables.load(spark, sf001, "embeddings")
    val n = e.count()
    val planes = Vectors.planesFor(n, bucketTarget = 16)
    val keyed = e.select(
      posexplode(graft.functions.Expressions.lshTableKeys(
        col("embedding"), 64, planes, 8)).as(Seq("_tbl", "_key")))
    // average occupancy per (table, key) bucket stays near the target
    // even though hyperplane buckets on correlated data are skewed
    val occ = keyed.groupBy("_tbl", "_key").count()
      .agg(avg("count"), max("count")).collect()(0)
    assert(occ.getDouble(0) <= 16.0 * 2, s"avg occupancy ${occ.getDouble(0)}")
    assert(occ.getLong(1) <= n / 2, s"max occupancy ${occ.getLong(1)}")
  }
}

class PartitionPruneSpec extends SparkSpec {

  test("hive-partitioned layout: filtered scan reads only its partition") {
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_prune_spec").getAbsolutePath
    Tables.load(spark, sf001, "events").write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    val pruned = spark.read.parquet(out)
      .where(col("event_type") === "click")
      .select("event_id", "user_id")
    val full = Tables.load(spark, sf001, "events")
      .where(col("event_type") === "click").count()
    // collect() (not count()) so the metrics below come from THIS
    // plan instance — count() builds and runs a different one
    assert(pruned.collect().length == full)
    // the partition predicate must reach the scan (PartitionFilters),
    // and after execution the scan must have touched only the one
    // matching partition directory (numFiles metric), not all 5
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.toString.contains("PartitionFilters"), scans.head.toString)
    val numFiles = scans.head.metrics("numFiles").value
    val totalFiles = spark.read.parquet(out).inputFiles.length
    assert(numFiles < totalFiles && numFiles >= 1, s"read $numFiles of $totalFiles")
  }

  test("DYNAMIC partition pruning: runtime dim filter prunes fact partitions") {
    // the s14_dpp_prune shape: partition values to keep are only
    // known after running the dim-side filter, so the pruning must be
    // a dynamicpruningexpression on the fact scan, not a static
    // PartitionFilter
    val out = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_dpp_spec").getAbsolutePath
    Tables.load(spark, sf001, "events").write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    val fact = spark.read.parquet(out)
    val dim = Tables.load(spark, sf001, "events")
      .where(col("event_type").like("%r%"))
      .select("event_type").distinct()
    val joined = fact.join(dim, Seq("event_type"), "left_semi")
      .select("event_id", "event_type")
    val rows = joined.collect()
    // semantic parity with the unpartitioned semi join
    val expected = Tables.load(spark, sf001, "events")
      .where(col("event_type").like("%r%")).count()
    assert(rows.length == expected && expected > 0)
    // the executed plan must carry the dynamic pruning subquery on
    // the fact scan
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("dynamicpruning"), planStr.take(2000))
    // and only the matching partition directories were touched
    // (AQE wraps subtrees in query stages whose plans are fields, not
    // children — walk through AdaptiveSparkPlanExec/QueryStageExec)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => p +: allNodes(q.plan)
      case _ => p +: p.children.flatMap(allNodes)
    }
    val scans = allNodes(joined.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("graft_dpp_spec") => f
    }
    assert(scans.nonEmpty)
    val numFiles = scans.head.metrics("numFiles").value
    val totalFiles = fact.inputFiles.length
    assert(numFiles < totalFiles && numFiles >= 1, s"read $numFiles of $totalFiles")
  }
}

class BucketedSpec extends SparkSpec {

  /** True if the physical plan of `df` contains no hash shuffle exchange. */
  private def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  test("bucketed join and aggregation run without a shuffle exchange") {
    val li = Tables.load(spark, sf001, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice")
    val o = Tables.load(spark, sf001, "orders")
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    Bucketed.write(li, "li_bucketed", "l_orderkey", 8)
    Bucketed.write(o, "o_bucketed", "l_orderkey", 8)

    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"), Seq("l_orderkey"))
    assert(isShuffleFree(joined), joined.queryExecution.executedPlan.toString)

    // result parity with the plain-layout join
    val expected = li.join(o, Seq("l_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("sessionize: per-session aggregate reuses the window's partitioning") {
    val ev = Tables.load(spark, sf001, "events")
    val df = graft.operators.Temporal.sessionize(ev, "user_id", "ts",
      1800, "event_id")
    df.collect()
    // AQE's toString prints Final AND Initial plan sections — count
    // only the executed (final) one
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly ONE hash exchange (the user-key window shuffle); the
    // (user, session) groupBy must ride on hash(user_id) — grouping
    // keys are a superset of the partitioning keys
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges hash exchanges:\n$plan")
  }

  test("Merge.upsert plans exactly one join") {
    val snap = Tables.load(spark, sf001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val changes = snap.where(col("o_orderkey") % 7 === 0)
      .withColumn("_deleted", lit(false))
    val df = graft.operators.Merge.upsert(snap, changes, "o_orderkey", "_deleted")
    val plan = df.queryExecution.executedPlan.toString
    val joins = "Join".r.findAllIn(plan).length
    assert(joins >= 1 && plan.split('\n').count(_.contains("Join ")) <= 1,
      plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("z-order layout: secondary-column file ranges shrink vs one-column sort") {
    import graft.core.ZOrder
    // interleave sanity: (a=0b101, b=0b011) -> z = 0b 01 11 01 -> wait,
    // bit i of a at 2i, of b at 2i+1: a=5(101),b=3(011):
    //   pos0=a0=1, pos1=b0=1, pos2=a1=0, pos3=b1=1, pos4=a2=1, pos5=b2=0
    //   z = 1 + 2 + 0 + 8 + 16 = 27
    val z = spark.range(1).select(
      ZOrder.zValue(lit(5L), lit(3L)).as("z")).head.getLong(0)
    assert(z == 27L, z)

    val li = Tables.load(spark, sf001, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_partkey")
    def perFilePartkeySpread(sorted: org.apache.spark.sql.DataFrame, tag: String): Double = {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_zorder_$tag").getAbsolutePath
      sorted.write.mode("overwrite").parquet(out)
      val spreads = spark.read.parquet(out)
        .groupBy(input_file_name())
        .agg((max(col("l_partkey")) - min(col("l_partkey"))).as("spread"))
        .collect().map(_.getAs[Long]("spread").toDouble)
      spreads.sum / spreads.length
    }
    // 8 range partitions each way; same file count, same rows
    val bySupp = li.repartitionByRange(8, col("l_suppkey"), col("l_orderkey"))
    val byZ = li
      .withColumn("_z", ZOrder.zValue(col("l_suppkey"), col("l_partkey")))
      .repartitionByRange(8, col("_z")).drop("_z")
    val suppSpread = perFilePartkeySpread(bySupp, "supp")
    val zSpread = perFilePartkeySpread(byZ, "z")
    // sorting by suppkey alone leaves partkey unclustered (≈ full
    // range per file); the z-layout must cut the per-file partkey
    // range substantially — this is exactly the footer-stats skip
    assert(zSpread < suppSpread * 0.75, s"z=$zSpread supp=$suppSpread")
  }

  test("s15 registered query: join AND per-order aggregate reuse bucket partitioning") {
    val df = QueriesSources.bucketedJoin(spark, sf001)
    df.collect()
    // the only permitted hash exchange would come from the final
    // ORDER BY (range partitioning) — the join and the groupBy must
    // both consume the scans' bucket layout
    assert(isShuffleFree(df), df.queryExecution.executedPlan.toString)
    // parity with the plain-layout equivalent
    val o = Tables.load(spark, sf001, "orders")
    val l = Tables.load(spark, sf001, "lineitem")
    val expected = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey")).count().count()
    assert(df.count() == expected)
  }
}
