package graft

import org.apache.spark.sql.functions._

/** EP2 flagship pipeline invariants at sf0.001, including the
  * notebook-tail stages (band-wise reference, second cluster
  * selection, IRSA-style join, CSV dump). */
class PipelineSpec extends SparkSpec {

  lazy val stages: Map[String, Long] =
    Pipeline.stages(spark, sf001).map { case (n, df) => n -> df.count() }.toMap
  lazy val out = Pipeline.flagship(spark, sf001).cache()

  test("every stage produces rows (waypoints)") {
    val order = Seq("loaded", "selected", "withCoords", "clustered", "matched",
      "merged", "kept", "clean", "bandRef", "wellCal", "result")
    order.foreach(n => assert(stages(n) > 0, s"stage $n is empty"))
  }

  test("filter stages only ever shrink their input") {
    assert(stages("selected") <= stages("loaded"))
    assert(stages("kept") <= stages("merged"))
    assert(stages("clean") <= stages("kept"))
    assert(stages("bandRef") == stages("clean"))   // adds a column only
    assert(stages("wellCal") <= stages("bandRef")) // second J8 drops clusters
    assert(stages("wellCal") < stages("clean"),
      "second select_clusters should reject at least one cluster here")
    assert(stages("result") == stages("wellCal"))  // dedup'd inner join keeps rows
  }

  test("produces calibrated rows") {
    assert(out.count() > 0)
  }

  test("every surviving row is matched and within the match radius") {
    assert(out.where(col("s_suppkey").isNull).count() == 0)
  }

  test("norm_mag_dist respects the outlier cut") {
    assert(out.where(col("norm_mag_dist") >= 3.0).count() == 0)
  }

  test("tail: every surviving member is within the band threshold") {
    assert(out.where(abs(col("cal_mag") - col("ref_mag_band")) >= 0.5).count() == 0)
  }

  test("tail: IRSA metadata columns are attached non-null") {
    assert(out.where(col("o_custkey").isNull || col("o_orderpriority").isNull).count() == 0)
  }

  test("cluster labels are min member part keys") {
    val bad = out.groupBy("cluster").agg(min("l_partkey").as("m"))
      .where(col("cluster") > col("m")).count()
    assert(bad == 0)
  }

  test("tail: CSV dump (S10) roundtrips the result row count") {
    // isolated dump dir: the default path is shared with EntrySmokeSpec
    // and ReportsSpec, which run in PARALLEL and overwrite it mid-read
    val dir = java.nio.file.Files.createTempDirectory("graft_ep2_dump_ps").toString
    val n = Pipeline.flagship(spark, sf001, dump = true, dumpDir = Some(dir)).count()
    // sharded contract: parts live under result/data.csv (+ sidecar)
    val dumped = spark.read.option("header", "true")
      .option("multiLine", "true").csv(s"$dir/result/data.csv")
    assert(dumped.count() == n)
  }

  test("EP4 corpus curation: report covers all splits, counts shrink monotonically") {
    val report = Pipeline.corpusCuration(spark, sf001).collect()
    assert(report.nonEmpty)
    val splits = report.map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    val total = core.Tables.load(spark, sf001, "documents").count()
    val kept = report.map(_.getAs[Long]("n_docs")).sum
    assert(kept > 0 && kept < total) // quality cut + dedup both bite
    assert(report.forall(_.getAs[Double]("mean_quality") > 0.35))
  }

  test("EP7 incremental ingest: admission accounting balances per language") {
    val rep = Pipeline.incrementalIngest(spark, sf001).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      val (b, f, d, a) = (r.getAs[Long]("n_batch"), r.getAs[Long]("n_quality_fail"),
        r.getAs[Long]("n_neardup"), r.getAs[Long]("n_admitted"))
      assert(b == f + d + a,
        s"lang=${r.getAs[String]("lang")}: $b != $f + $d + $a")
      assert(Seq(b, f, d, a).forall(_ >= 0L))
    }
    // the batch bucket is < 100 of 1000 -> roughly a tenth of the corpus
    val nb = rep.map(_.getAs[Long]("n_batch")).sum
    assert(nb > 0 && nb < 300)
  }
}
