package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.operators.FitsCodec
import graft.sources.FitsSource

/** FITS codec + source: byte-level round-trips over every supported
  * TFORM code, header grammar edge cases, strictness, the reference's
  * selection/matching semantics, and corrupted-file skipping. */
class FitsSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    val d = tempDir(s"graft_fits_$tag")
    d.toAbsolutePath.toString
  }

  test("codec round-trip: every scalar type, strings, arrays") {
    val cols = Seq("flag" -> "1L", "b" -> "1B", "i16" -> "1I", "i32" -> "1J",
      "i64" -> "1K", "f32" -> "1E", "f64" -> "1D", "name" -> "8A",
      "arr" -> "3D")
    val rows: Seq[Seq[Any]] = Seq(
      Seq[Any](true, 255, -32768, Int.MinValue, Long.MinValue, 1.5f,
        math.Pi, "o'brien", Seq(1.0, -2.5, 3.25)),
      Seq[Any](false, 0, 32767, Int.MaxValue, Long.MaxValue, -0.125f,
        -1.0e300, "ab", Seq(0.0, 0.5, -0.5)))
    val bytes = FitsCodec.buildFits(
      Seq("EXPID" -> 42L, "MAGZP" -> 26.35, "NOTE" -> "hello",
        "GOOD" -> true),
      cols, rows)
    val hs = FitsCodec.hdus(bytes)
    assert(hs.size == 2)
    assert(hs(0).hmap("EXPID") == 42L && hs(0).hmap("MAGZP") == 26.35)
    assert(hs(0).hmap("NOTE") == "hello" && hs(0).hmap("GOOD") == true)
    val got = FitsCodec.readRows(bytes, hs(1),
      cols.indices.toArray).map(_.toSeq).toSeq
    assert(got == rows, s"$got")
  }

  test("codec: multi-block header (>36 cards); quoted strings round-trip") {
    val keys = (1 to 60).map(i => s"K$i" -> i.toLong)
    val bytes = FitsCodec.buildFits(keys, Seq("x" -> "1J"), Seq(Seq[Any](7)))
    val h0 = FitsCodec.hdus(bytes)(0)
    assert(h0.hmap("K1") == 1L && h0.hmap("K60") == 60L)
    assert(h0.dataOff % FitsCodec.Block == 0 && h0.dataOff >= 2 * FitsCodec.Block)
  }

  test("codec strictness: bad magic, truncated data, unsupported TFORM") {
    val good = FitsCodec.buildFits(Seq("A" -> 1L), Seq("x" -> "1J"),
      Seq(Seq[Any](1)))
    intercept[IllegalArgumentException] {
      FitsCodec.hdus("NOTFITS".getBytes ++ new Array[Byte](5000))
    }
    intercept[IllegalArgumentException] {
      FitsCodec.hdus(good.take(good.length - FitsCodec.Block))
    }
    intercept[IllegalArgumentException] { FitsCodec.parseTform("1M") }
  }

  test("codec round-trip: X bit-array columns pack MSB-first") {
    val cols = Seq("id" -> "1K", "flag" -> "1X", "mask" -> "12X")
    val rows: Seq[Seq[Any]] = Seq(
      Seq[Any](1L, true, (0 until 12).map(i => i % 3 == 0)),
      Seq[Any](2L, false, Seq.fill(12)(true)),
      Seq[Any](3L, true, Seq.fill(12)(false)))
    val bytes = FitsCodec.buildFits(Seq("EXPID" -> 1L), cols, rows)
    val hs = FitsCodec.hdus(bytes)
    // 12 bits pack into 2 bytes: row width 8 (K) + 1 (1X) + 2 = 11
    assert(hs(1).hmap("NAXIS1") == 11L, hs(1).hmap("NAXIS1"))
    val got = FitsCodec.readRows(bytes, hs(1), cols.indices.toArray)
      .map(_.toSeq).toSeq
    assert(got == rows, s"$got")
    // MSB-first on the wire: row 0's mask bits 100100100100 -> 0x92 0x40
    val maskAt = hs(1).dataOff + 9
    assert((bytes(maskAt) & 0xff) == 0x92 && (bytes(maskAt + 1) & 0xff) == 0x40,
      f"${bytes(maskAt)}%02x ${bytes(maskAt + 1)}%02x")
    // complex codes stay rejected; X can't be a heap element
    intercept[IllegalArgumentException] { FitsCodec.parseTform("1C") }
    intercept[IllegalArgumentException] { FitsCodec.parseTform("1PX") }
  }

  test("readTable: X columns surface as Boolean / ArrayType(Boolean)") {
    val dir = tmpDir("bits")
    val cols = Seq("id" -> "1K", "good" -> "1X", "flags" -> "9X")
    val rows: Seq[Seq[Any]] = (0L until 6L).map(i =>
      Seq[Any](i, i % 2 == 0, (0 until 9).map(b => (i + b) % 4 == 0)))
    Files.write(Paths.get(s"$dir/a.fits"),
      FitsCodec.buildFits(Seq("EXPID" -> 1L), cols, rows))
    val df = FitsSource.readTable(spark, dir, keepArrayCols = true)
    assert(df.schema("good").dataType == org.apache.spark.sql.types.BooleanType)
    assert(df.schema("flags").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.BooleanType, containsNull = false))
    val got = df.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getSeq[Boolean](2).toList))
    assert(got.length == 6 && got(0)._2 && !got(1)._2)
    assert(got(1)._3 == (0 until 9).map(b => (1 + b) % 4 == 0).toList)
  }

  test("codec round-trip: variable-length P/Q columns through the heap") {
    val cols = Seq("id" -> "1K", "pj" -> "1PJ", "qd" -> "1QD", "pa" -> "1PA")
    val rows: Seq[Seq[Any]] = Seq(
      Seq[Any](1L, Seq(7, -3, Int.MaxValue), Seq(1.5, -2.25), "abc"),
      Seq[Any](2L, Seq.empty[Int], Seq(math.Pi), ""), // empty varlen cells
      Seq[Any](3L, Seq(0), Seq.empty[Double], "x'y"))
    val bytes = FitsCodec.buildFits(Seq("EXPID" -> 9L), cols, rows)
    val hs = FitsCodec.hdus(bytes)
    // PCOUNT sizes the heap: 4*4 (pj ints) + 3*8 (qd doubles) + 6 (pa chars)
    assert(hs(1).hmap("PCOUNT") == (16L + 24L + 6L), hs(1).hmap("PCOUNT"))
    val got = FitsCodec.readRows(bytes, hs(1), cols.indices.toArray)
      .map(_.toSeq).toSeq
    assert(got == rows, s"$got")
    // the written TFORM carries (emax); the parsed layout canonicalizes
    assert(hs(1).hmap("TFORM2") == "1PJ(3)")
    assert(FitsCodec.bintableCols(hs(1)).map(_.tform) ==
      Vector("1K", "1PJ", "1QD", "1PA"))
  }

  test("codec property: random varlen tables round-trip writer -> parser") {
    for (seed <- Seq(1, 22, 333)) {
      val rnd = new scala.util.Random(seed)
      val nRows = rnd.nextInt(40) + 1
      val rows: Seq[Seq[Any]] = (0 until nRows).map { r =>
        Seq[Any](
          r.toLong,
          Seq.fill(rnd.nextInt(9))(rnd.nextInt()),
          Seq.fill(rnd.nextInt(5))(rnd.nextDouble()),
          Seq.fill(rnd.nextInt(6))(rnd.nextPrintableChar())
            .mkString.replace('\'', 'q'))
      }
      val cols = Seq("id" -> "1K", "xs" -> "1PJ", "ys" -> "1QD", "s" -> "1QA")
      val bytes = FitsCodec.buildFits(Seq("SEED" -> seed.toLong), cols, rows)
      val hs = FitsCodec.hdus(bytes)
      val got = FitsCodec.readRows(bytes, hs(1), cols.indices.toArray)
        .map(_.toSeq).toSeq
      assert(got == rows, s"seed=$seed")
      // descriptors pointing past the heap are rejected, not misread:
      // corrupt the first pj descriptor's count field (big-endian int
      // at the cell) to a huge value
      val bad = bytes.clone()
      val cellAt = hs(1).dataOff + 8 // after the 1K id field of row 0
      bad(cellAt) = 0x7f.toByte
      intercept[IllegalArgumentException] {
        FitsCodec.readRows(bad, FitsCodec.hdus(bad)(1),
          cols.indices.toArray).foreach(_ => ())
      }
    }
  }

  test("gzipped FITS: maybeGunzip is transparent, mixed dirs scan as one table") {
    val dir = tmpDir("gz")
    val cols = Seq("id" -> "1K", "v" -> "1D", "xs" -> "1PJ")
    def rows(base: Long): Seq[Seq[Any]] = (0 until 4).map(i =>
      Seq[Any](base + i, base * 0.25 + i,
        (0 until i).map(k => (base + k).toInt): Seq[Int]))
    val plain = FitsCodec.buildFits(Seq("EXPID" -> 1L), cols, rows(100))
    val zipped = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(FitsCodec.buildFits(Seq("EXPID" -> 2L), cols, rows(200)))
      gz.close(); bos.toByteArray
    }
    Files.write(Paths.get(s"$dir/a.fits"), plain)
    Files.write(Paths.get(s"$dir/b.fits.gz"), zipped)
    // identity on plain bytes, inflate on gzip
    assert(FitsCodec.maybeGunzip(plain) eq plain)
    assert(FitsCodec.hdus(FitsCodec.maybeGunzip(zipped))(0).hmap("EXPID") == 2L)
    val df = FitsSource.readTable(spark, dir, keepArrayCols = true)
    assert(df.schema("xs").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    val got = df.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](2).toList)).toList
    assert(got.map(_._1) == List(100L, 101L, 102L, 103L, 200L, 201L, 202L, 203L))
    assert(got.last._2 == List(200, 201, 202))
    // header scan sees both files' primaries (gz inflated there too)
    val heads = FitsSource.readHeaders(spark, dir, Seq("EXPID"))
    assert(heads.select("EXPID").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
  }

  test("readTable: wildcard select, array-col policy, row filter, schema check") {
    val dir = tmpDir("tbl")
    val cols = Seq("id" -> "1K", "mag" -> "1D", "flux_ap" -> "3E",
      "tag" -> "4A")
    def rows(base: Long): Seq[Seq[Any]] = (0 until 5).map(i =>
      Seq[Any](base + i, base * 0.5 + i, Seq(i.toFloat, 0f, 1f), s"t$i"))
    Files.write(Paths.get(s"$dir/a.fits"),
      FitsCodec.buildFits(Seq("EXPID" -> 1L), cols, rows(100)))
    Files.write(Paths.get(s"$dir/b.fits"),
      FitsCodec.buildFits(Seq("EXPID" -> 2L), cols, rows(200)))
    // array col dropped by default; "ma*" wildcard matches mag
    val df = FitsSource.readTable(spark, dir,
      selectColumns = Seq("id", "ma*", "flux_ap", "tag"))
    assert(df.columns.toSeq == Seq("id", "mag", "tag"))
    assert(df.count() == 10)
    // keepArrayCols brings the 3E column back as array<float>
    val withArr = FitsSource.readTable(spark, dir, keepArrayCols = true)
    assert(withArr.columns.toSeq == Seq("id", "mag", "flux_ap", "tag"))
    val arr = withArr.where(col("id") === 203).select("flux_ap")
      .collect()(0).getSeq[Float](0)
    assert(arr == Seq(3f, 0f, 1f))
    // pandas-dialect row filter
    val filtered = FitsSource.readTable(spark, dir,
      selectRows = Some("id >= 200 and tag == 't1'"))
    assert(filtered.select("id").collect().map(_.getLong(0)).toSeq == Seq(201L))
    // a file with a different layout fails loudly
    Files.write(Paths.get(s"$dir/c.fits"),
      FitsCodec.buildFits(Nil, Seq("id" -> "1J"), Seq(Seq[Any](1))))
    val e = intercept[org.apache.spark.SparkException] {
      FitsSource.readTable(spark, dir).count()
    }
    assert(e.getMessage.contains("differs") ||
      e.getCause.getMessage.contains("differs"))
  }

  test("readHeaders: substring key match, missing keys null, corrupt skipped") {
    val dir = tmpDir("hdr")
    Files.write(Paths.get(s"$dir/a.fits"), FitsCodec.buildFits(
      Seq("EXPID" -> 10L, "RCID" -> 3L, "APCOR1" -> 0.5, "APCOR2" -> 0.25),
      Seq("x" -> "1J"), Seq(Seq[Any](1))))
    // second file lacks APCOR2
    Files.write(Paths.get(s"$dir/b.fits"), FitsCodec.buildFits(
      Seq("EXPID" -> 11L, "RCID" -> 0L, "APCOR1" -> 0.75),
      Seq("x" -> "1J"), Seq(Seq[Any](1))))
    // corrupted file: skipped, not fatal
    Files.write(Paths.get(s"$dir/z.fits"),
      "garbage".getBytes ++ new Array[Byte](4000))
    val df = FitsSource.loadHeaderMeta(spark, dir,
      Seq("EXPID", "RCID", "APCOR*")).orderBy("EXPID")
    assert(df.columns.toSeq ==
      Seq("PATH", "EXPID", "RCID", "APCOR1", "APCOR2", "OBSID"))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Long]("OBSID") == 103L)
    assert(rows(1).getAs[Long]("OBSID") == 110L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("APCOR2")))
  }

  test("registry FITS queries: projection reaches the parser (pruned schema)") {
    // s2_fits_scan selects 3 of 4 table columns: the DataFrame schema
    // must carry only those (the parse seam never materializes the
    // rest)
    val df = SparkEntry.queries("s2_fits_scan")(spark, sf001)
    assert(df.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "o_totalprice"))
    assert(df.count() > 0)
  }
}
