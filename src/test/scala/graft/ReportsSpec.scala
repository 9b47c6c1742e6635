package graft

import java.nio.file.{Files, Paths}

import graft.sources.Reports

/** The report sink: a registry report frame round-trips through the
  * csv.gz + sidecar convention with schema, row count and values
  * intact. */
class ReportsSpec extends SparkSpec {

  test("a14_histogram report dumps to csv.gz + JSON sidecar and reads back") {
    val report = SparkEntry.queries("a14_histogram")(spark, sf001)
    val dir = tempDir("graft_reports").toString
    val (csvDir, sidecar) = Reports.dump(report, dir, "histogram",
      provenance = s"a14_histogram @ $sf001")
    // exactly one gzip part file
    val parts = Files.list(Paths.get(csvDir)).iterator()
    var nParts = 0
    while (parts.hasNext) {
      if (parts.next().toString.endsWith(".csv.gz")) nParts += 1
    }
    assert(nParts == 1, s"expected one part file in $csvDir")
    // sidecar carries schema + rows
    val meta = Files.readString(Paths.get(sidecar))
    assert(meta.contains("\"report\":\"histogram\""), meta)
    assert(meta.contains(s"\"rows\":${report.count()}"), meta)
    report.schema.fieldNames.foreach(f => assert(meta.contains(f), f))
    // data layer round-trips (header on, values match)
    val back = spark.read.option("header", "true").csv(csvDir)
    assert(back.count() == report.count())
    assert(back.columns.toSeq == report.columns.toSeq)
  }

  test("sharded dump writes part-parallel csv.gz + sidecar part manifest") {
    import org.apache.spark.sql.functions._
    val fact = spark.range(0, 10000).select(col("id"),
      (col("id") % 97).as("k"), (col("id") * 1.5).as("v"))
      .repartition(8)
    val dir = tempDir("graft_reports").toString
    val (csvDir, sidecar) = Reports.dumpSharded(fact, dir, "fact",
      provenance = "spec")
    // MULTIPLE parts — no one-task write stage
    val it = Files.list(Paths.get(csvDir)).iterator()
    var nParts = 0
    while (it.hasNext) if (it.next().toString.endsWith(".csv.gz")) nParts += 1
    assert(nParts > 1, s"expected sharded parts in $csvDir, got $nParts")
    // sidecar: row count + every part named
    val meta = Files.readString(Paths.get(sidecar))
    assert(meta.contains("\"rows\":10000"), meta)
    assert(meta.contains("\"parts\":["), meta)
    assert(nParts == "part-".r.findAllIn(
      meta.substring(meta.indexOf("\"parts\":"))).size, meta)
    // data layer round-trips
    val back = spark.read.option("header", "true").csv(csvDir)
    assert(back.count() == 10000)
    assert(back.columns.toSeq == fact.columns.toSeq)
  }

  test("flagship dump: sharded by default, single-file under the notebook contract") {
    // sf0.001 keeps this cheap; the flagship's returned frame is
    // identical either way — only the sink layout changes
    // isolated dump dir: the default path is shared with EntrySmokeSpec
    // and PipelineSpec, which run in PARALLEL and overwrite it mid-read
    val outDir = tempDir("graft_ep2_dump_rs").toString
    val sharded = Pipeline.flagship(spark, sf001, dump = true,
      dumpDir = Some(outDir))
    val meta = Files.readString(Paths.get(s"$outDir/result/meta.json"))
    assert(meta.contains(s"\"rows\":${sharded.count()}"), meta)
    val single = Pipeline.flagship(spark, sf001, dump = true,
      singleFile = true, dumpDir = Some(outDir))
    var nFiles = 0
    val it = Files.list(Paths.get(outDir)).iterator()
    while (it.hasNext) if (it.next().toString.endsWith(".csv.gz")) nFiles += 1
    assert(nFiles == 1, s"notebook contract: exactly one gzip csv, got $nFiles")
    assert(single.count() == sharded.count())
  }
}
