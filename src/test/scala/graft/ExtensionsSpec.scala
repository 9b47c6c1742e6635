package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions: the custom expressions through spark.sql. */
class ExtensionsSpec extends AnyFunSuite {

  // getOrCreate would return the shared suite session and skip the
  // extension injection — force a fresh session (context is reused),
  // then restore the shared one as default for later suites.
  lazy val spark: SparkSession = {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    prior.foreach(SparkSession.setDefaultSession)
    s
  }

  test("graft_cosine is callable from SQL") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("graft_cosine: non-numeric-array arguments fail analysis; a length mismatch is NULL") {
    Seq("graft_cosine(1, 2)", "graft_cosine(array('a'), array('b'))").foreach { call =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call AS c"))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
    val row = spark.sql(
      """SELECT graft_cosine(array(1D, 2D, 3D), array(1D, 2D)) AS short,
         graft_cosine(array(1D, CAST(NULL AS DOUBLE)), array(1D, 2D)) AS null_elem""").head()
    assert(row.isNullAt(0) && row.isNullAt(1))
  }

  test("graft_shingle_jaccard and graft_simhash from SQL") {
    val row = spark.sql(
      """SELECT graft_shingle_jaccard('hello world', 'hello world', 5) AS j,
         graft_simhash('hello world') AS s""").head()
    assert(row.getDouble(0) == 1.0)
    assert(row.getLong(1) != 0L)
  }

  test("graft_minhash_bands returns band array") {
    val r = spark.sql("SELECT graft_minhash_bands('some text here', 5, 8, 4) AS b").head()
    assert(r.getSeq[String](0).length == 2)
  }

  test("graft_minhash_bands_poly, graft_healpix and graft_lsh_keys from SQL") {
    val row = spark.sql(
      """SELECT graft_minhash_bands_poly('some text here', 5, 8, 4) AS b,
         graft_healpix(0.0D, 90.0D, 64) AS pix,
         graft_lsh_keys(array(1.0D, -1.0D, 0.5D, 2.0D), 4, 6, 3) AS keys""").head()
    assert(row.getSeq[String](0).length == 2)
    assert(row.getLong(1) == graft.functions.Healpix.ang2pixNest(64, 0.0, 90.0))
    assert(row.getSeq[Long](2).length == 3)
  }

  test("graft_healpix_cover from SQL == the Scala disk cover") {
    val got = spark.sql(
      "SELECT graft_healpix_cover(10.0D, -45.0D, 64, 0.01D) AS cells")
      .head().getSeq[Long](0).toSet
    val expected = graft.functions.Healpix.coverDisk(64,
      graft.functions.Healpix.ang2pixNest(64, 10.0, -45.0), 0.01).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("graft_healpix and graft_healpix_cover read an unsuffixed DECIMAL literal as DOUBLE") {
    val row = spark.sql(
      """SELECT graft_healpix(10.5, 20.1, 64) = graft_healpix(10.5D, 20.1D, 64) AS cell,
         graft_healpix_cover(10.5, -45.0, 64, 0.01) = graft_healpix_cover(10.5D, -45.0D, 64, 0.01D)
           AS cover,
         graft_healpix(10.5, 20.1, 64) AS pix""").head()
    assert(row.getBoolean(0) && row.getBoolean(1))
    assert(row.getLong(2) == graft.functions.Healpix.ang2pixNest(64, 10.5, 20.1))
  }

  test("text kernels given a number fail analysis with DATATYPE_MISMATCH, ANSI on or off") {
    val calls = Seq("graft_simhash(42)", "graft_shingle_jaccard(1, 2, 5)",
      "graft_minhash_bands(42, 5, 8, 4)", "graft_minhash_bands_poly(42, 5, 8, 4)")
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    try for (on <- Seq("true", "false"); call <- calls) {
      spark.conf.set("spark.sql.ansi.enabled", on)
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call AS c"))
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"ansi=$on $call: ${e.getMessage}")
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }
}
