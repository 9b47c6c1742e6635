package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** P4/P5/C9/C10/C11/J7 schema-utility coverage. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("requireCols error names the missing and available columns (P4)") {
    val df = Seq((1, 2)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](Tables.requireCols(df, Seq("a", "nope")))
    assert(e.getMessage.contains("nope") && e.getMessage.contains("a, b"))
  }

  test("wildcard matching is substring on star patterns, exact otherwise (C11)") {
    assert(Tables.matchesPattern("l_orderkey", "*orderkey"))
    assert(Tables.matchesPattern("l_orderkey", "l_order*"))
    assert(!Tables.matchesPattern("l_orderkey", "orderkey"))
    assert(Tables.patternsCovered(Seq("l_q*", "l_tax"), Seq("l_quantity", "l_tax")))
    assert(!Tables.patternsCovered(Seq("l_q*", "missing"), Seq("l_quantity", "l_tax")))
  }

  test("wildcardSelect keeps frame column order (P5)") {
    val df = Seq((1, 2, 3)).toDF("xa", "yb", "xc")
    assert(Tables.wildcardSelect(df, Seq("x*")).columns.toSeq == Seq("xa", "xc"))
  }

  test("downcast shrinks longs and doubles (C9)") {
    val df = Seq((1L, 2.0)).toDF("i", "f")
    val out = Tables.downcast(df)
    assert(out.schema("i").dataType == IntegerType)
    assert(out.schema("f").dataType == FloatType)
  }

  test("subtract keeps left duplicates not present in right (J7/U2)") {
    val a = Seq(1, 1, 2, 3).toDF("v")
    val b = Seq(2).toDF("v")
    assert(Tables.subtract(a, b).as[Int].collect().sorted.toSeq == Seq(1, 1, 3))
  }

  test("memUsageMb reports a positive estimate (C10)") {
    val df = Tables.load(spark, sf001, "nation")
    assert(Tables.memUsageMb(df) > 0)
  }

  // Schema-drift tripwire: the driver regenerates /root/testdata between
  // rounds and has already changed events.ts physical type once
  // (TIMESTAMP(NANOS) → TIMESTAMP(MICROS, isAdjustedToUTC=false), which
  // killed 19 queries in the r6 driver bench). Assert the NORMALIZED
  // schema every query depends on, so a future regeneration fails here
  // — in `sbt test` — instead of in the round's driver artifacts.
  test("events loads with session-TZ TimestampType ts at any physical encoding") {
    val df = Tables.load(spark, sf001, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts normalized to ${df.schema("ts").dataType}; " +
        "Tables.normalizeTs must map the on-disk encoding to TimestampType")
    // the values must be microsecond-epoch sane (year 2000–2100 window)
    val (lo, hi) = (946684800000000L, 4102444800000000L)
    val r = df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    assert(r.getLong(0) >= lo && r.getLong(1) <= hi,
      s"events.ts epoch-µs range [${r.getLong(0)}, ${r.getLong(1)}] outside sanity window")
  }

  test("all tables load with the column names every query depends on") {
    // name-level tripwire for the remaining nine tables (the events
    // encoding change proved the driver regenerates testdata between
    // rounds): fail in `sbt test` if a regeneration renames/drops a
    // column the registry references.
    val expected = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    val problems = expected.flatMap { case (t, cols) =>
      val have = Tables.load(spark, sf001, t).columns.toSet
      cols.filterNot(have).map(c => s"$t.$c")
    }
    assert(problems.isEmpty, s"missing columns after testdata regeneration: ${problems.mkString(", ")}")
    // embeddings must stay Array[Float]-shaped, dim 64 (the ANN family
    // hardcodes the dim in queries and oracles)
    val emb = Tables.load(spark, sf001, "embeddings")
    assert(emb.schema("embedding").dataType ==
      ArrayType(FloatType, containsNull = true) ||
      emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = false))
    assert(emb.select(size(col("embedding"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(64))
  }

  test("contractReport counts violations per rule, one pass") {
    val df = Seq(
      (Some(1L), Some("abc"), Some("en")),
      (None, Some(""), Some("xx")),          // id null, text empty, lang bad
      (Some(3L), None, None))                // text null, lang null
      .toDF("id", "text", "lang")
    val rep = Tables.contractReport(df, Seq(
        "id_null" -> col("id").isNull,
        "text_empty" -> (col("text").isNull || length(col("text")) === 0),
        "lang_domain" -> (col("lang").isNull || !col("lang").isin("en", "de"))))
      .collect().map(r => r.getAs[String]("rule") ->
        (r.getAs[Long]("n_violations"), r.getAs[Boolean]("ok"))).toMap
    assert(rep("id_null") == (1L, false))
    assert(rep("text_empty") == (2L, false))
    assert(rep("lang_domain") == (2L, false))
    val clean = Tables.contractReport(df.where(col("id") === 1),
      Seq("id_null" -> col("id").isNull)).collect()
    assert(clean(0).getAs[Boolean]("ok"))
    // empty rule set: vacuously-clean empty report, same schema
    val none = Tables.contractReport(df, Seq.empty)
    assert(none.columns.toSeq == Seq("rule", "n_violations", "n_rows", "ok"))
    assert(none.count() == 0L)
  }

  test("normalizeTs handles long-nanos and NTZ inputs identically") {
    val micros = 1700000000000000L
    val fromLong = Tables.normalizeTs(Seq(micros * 1000L).toDF("ts"))
    assert(fromLong.schema("ts").dataType == TimestampType)
    assert(fromLong.select(unix_micros(col("ts"))).as[Long].head == micros)
    val ntz = spark.sql(s"SELECT make_timestamp_ntz(2023, 11, 14, 22, 13, 20) AS ts")
    val fromNtz = Tables.normalizeTs(ntz)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    assert(fromNtz.select(unix_micros(col("ts"))).as[Long].head == micros)
  }

  // Tables.load reads the schema from one footer on the driver; it
  // must be exactly the schema Spark's inference job produces, under
  // every flag inference honors (events: nanosAsLong)
  test("footer schema equals Spark's inferred schema for every table") {
    Tables.all.foreach { t =>
      val path = s"$sf001/$t.parquet"
      val loaded = Tables.load(spark, sf001, t) // events: sets nanosAsLong
      val inferred = spark.read.parquet(path)
      assert(Tables.parquetSchema(spark, path) == inferred.schema, t)
      assert(Tables.readParquet(spark, path).schema == inferred.schema, t)
      val expected = if (t == "events") Tables.normalizeTs(inferred) else inferred
      assert(loaded.schema == expected.schema, t)
    }
  }

  test("footer schema equals inference on a partitioned Spark-written directory") {
    val out = tempDir("graft_tables").resolve("ev").toString
    Tables.load(spark, sf001, "events").write.partitionBy("event_type").parquet(out)
    val got = Tables.readParquet(spark, out)
    assert(got.schema == spark.read.parquet(out).schema)
    assert(got.columns.last == "event_type") // partition column discovered
    assert(got.count() == Tables.load(spark, sf001, "events").count())
  }

  test("building Tables.load frames starts no Spark job") {
    val (frames, jobs) = jobsStarted(Tables.all.map(t => Tables.load(spark, sf001, t)))
    assert(frames.forall(_.columns.nonEmpty))
    assert(jobs == 0, s"$jobs job(s) started while only building load frames")
    // the counter is not vacuous: an action inside it is seen
    assert(jobsStarted(frames.head.count())._2 >= 1)
  }

  test("a directory without parquet data files fails naming the path") {
    val empty = tempDir("graft_empty")
    val onlyMarker = tempDir("graft_marker")
    java.nio.file.Files.createFile(onlyMarker.resolve("_SUCCESS"))
    Seq(empty, onlyMarker).map(_.toString).foreach { d =>
      val e = intercept[IllegalArgumentException](Tables.readParquet(spark, d))
      assert(e.getMessage.contains(d), e.getMessage)
    }
  }
}
