package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.Expressions

/** SparkSessionExtensions entry point: registers the custom Catalyst
  * expressions as SQL functions, so `spark.sql` users get them too:
  *
  *   <session builder>.withExtensions(new GraftExtensions) ...
  *   -- or --
  *   spark.sql.extensions=graft.GraftExtensions
  *
  *   SELECT graft_cosine(a.embedding, b.embedding) ...
  *     -- NULL when the arrays differ in length or hold a NULL
  *   SELECT graft_minhash_bands(text, 5, 8, 4) ...
  *   SELECT graft_shingle_jaccard(t1, t2, 5) ...
  *   SELECT graft_simhash(text) ...
  *   SELECT graft_healpix(ra, dec, 64) ...
  *     -- ra/dec of any numeric type, read as DOUBLE: an unsuffixed
  *     -- literal such as 10.5 (a DECIMAL) works
  *
  * Every function follows the kernel contract of
  * [[graft.functions.Expressions.Kernel]]: an argument of the wrong
  * type (`graft_simhash(42)`, `graft_cosine(1, 2)`) fails analysis
  * with DATATYPE_MISMATCH, and a NULL argument gives NULL. The
  * integer and double parameters after the data arguments must be
  * literals.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)   => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Short, _) => v.toInt
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Byte, _)  => v.toInt
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  // Spark SQL parses an unsuffixed fractional literal (0.01) as DECIMAL,
  // not DOUBLE — accept Decimal/Long/Float spellings too so the natural
  // `graft_healpix_cover(ra, dec, 64, 0.01)` works without a D suffix.
  private def doubleLit(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Float, _)  => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)    => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _)   => v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.sql.types.Decimal, _) =>
      v.toDouble
    case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[Expressions.CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => Expressions.CosineSim(args(0), args(1))))

    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[Expressions.MinHashBands].getName, "graft_minhash_bands"),
      (args: Seq[Expression]) => Expressions.MinHashBands(
        args(0), intLit(args(1), "shingleSize"),
        intLit(args(2), "numHashes"), intLit(args(3), "bandSize"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_jaccard"),
      new ExpressionInfo(classOf[Expressions.ShingleJaccard].getName, "graft_shingle_jaccard"),
      (args: Seq[Expression]) => Expressions.ShingleJaccard(
        args(0), args(1), intLit(args(2), "shingleSize"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[Expressions.SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => Expressions.SimHash64(args(0))))

    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_bands_poly"),
      new ExpressionInfo(classOf[Expressions.MinHashBandsPoly].getName, "graft_minhash_bands_poly"),
      (args: Seq[Expression]) => Expressions.MinHashBandsPoly(
        args(0), intLit(args(1), "shingleSize"),
        intLit(args(2), "numHashes"), intLit(args(3), "bandSize"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_healpix"),
      new ExpressionInfo(classOf[Expressions.HealpixCell].getName, "graft_healpix"),
      (args: Seq[Expression]) => Expressions.HealpixCell(
        args(0), args(1), intLit(args(2), "nside"))))

    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_keys"),
      new ExpressionInfo(classOf[Expressions.LshTableKeys].getName, "graft_lsh_keys"),
      (args: Seq[Expression]) => Expressions.LshTableKeys(
        args(0), intLit(args(1), "dim"),
        intLit(args(2), "planes"), intLit(args(3), "tables"))))

    // graft_healpix_cover(ra_deg, dec_deg, nside, radius_rad): all
    // NESTED cells a radius-disk around the point can touch — the
    // catalog-side explode key for the spatial NN join
    ext.injectFunction((
      new FunctionIdentifier("graft_healpix_cover"),
      new ExpressionInfo(classOf[Expressions.HealpixCoverDisk].getName, "graft_healpix_cover"),
      (args: Seq[Expression]) => Expressions.HealpixCoverDisk(
        args(0), args(1), intLit(args(2), "nside"),
        doubleLit(args(3), "radiusRad"))))
  }
}
