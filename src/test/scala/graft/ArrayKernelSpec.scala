package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}

import graft.functions.Healpix
import graft.functions.Expressions._

/** The Catalyst kernels under whole-stage codegen and with code
  * generation off. The numeric-array kernels against their interpreted
  * zip_with/aggregate/element_at twins: well-formed rows must match bit
  * for bit; a short array, a NULL element or a NULL array gives NULL; a
  * NaN element gives NaN; a PQ code or cell index outside its table
  * throws. The text, hash, HEALPix and sketch kernels against
  * [[Healpix]], the sketches' own probes, or a direct `kernel` call on
  * the driver, for every accepted argument type; a NULL argument gives
  * NULL. A wrong argument type fails analysis. */
class ArrayKernelSpec extends SparkSpec {
  import ArrayKernelSpec._

  // own session on the shared context: the codegen confs set below
  // stay out of the suites running beside this one
  override lazy val spark: SparkSession = {
    val s = SparkSpec.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.ansi.enabled", "true")
    s
  }

  private val modes = Seq(
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false"),
    "no codegen" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private val dim = 6
  private val m = 3
  private val ds = dim / m
  private val kSub = 4
  private val rnd = new scala.util.Random(7)
  private def draw(): Double = rnd.nextInt(2000001) / 1e5 - 10.0

  private val centroids = Array.fill(3, dim)(draw())
  private val codebooks = Array.fill(m, kSub, ds)(draw())
  // NaN only at code kSub-1 of subspace 0, which only the NaN row uses
  private val constTable = Array.tabulate(m, kSub)((j, c) =>
    if (j == 0 && c == kSub - 1) Double.NaN else draw())

  private val wellFormed = 0 until 8
  private val (short, nullElem, nullArr, nanElem) = (10, 11, 12, 13)

  private def vec(): Seq[Any] = Seq.fill(dim)(draw().toFloat)
  private def codes(): Seq[Any] = Seq.fill(m)(rnd.nextInt(kSub - 1))
  private def tab(): Seq[Any] = Seq.fill(m)(Seq.fill(kSub)(draw()))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("v", ArrayType(FloatType)),
    StructField("w", ArrayType(FloatType)),
    StructField("cell", IntegerType),
    StructField("codes", ArrayType(IntegerType)),
    StructField("tab", ArrayType(ArrayType(DoubleType)))))

  private val rows: Seq[Row] = wellFormed.map(i => Row(i, vec(), vec(), i % 3, codes(), tab())) ++ Seq(
    Row(short, vec().init, vec(), 0, codes().init, tab()),
    Row(nullElem, vec().updated(2, null), vec(), 1, codes().updated(1, null), tab()),
    Row(nullArr, null, vec(), 2, null, null),
    Row(nanElem, vec().updated(2, Float.NaN), vec(), 0, Seq(kSub - 1, 0, 0),
      Seq(Seq.fill(kSub)(Double.NaN), Seq.fill(kSub)(draw()), Seq.fill(kSub)(draw()))))

  // the exchange keeps the optimizer from folding the projection into
  // the local relation, so the kernels run in the mode under test
  private def data(rs: Seq[Row] = rows): DataFrame =
    spark.createDataFrame(rs.asJava, schema).repartition(1)

  private def fold(a: Column, b: Column)(f: (Column, Column) => Column): Column =
    aggregate(zip_with(a, b, f), lit(0.0), _ + _)

  private def lookupSum(table: Column, codes: Column): Column =
    fold(table, codes)((t, c) => element_at(t, c + 1))

  private def lit2(a: Array[Array[Double]]): Column = typedlit(a.map(_.toSeq).toSeq)

  private def nearestTwin(v: Column, take: Int): Column = {
    val d2 = centroids.map(c => fold(toDoubles(v), typedlit(c.toSeq))((x, y) => (x - y) * (x - y)))
    val ranked = array_sort(array(d2.zipWithIndex.map { case (d, i) =>
      struct(d.as("d"), lit(i).as("i")) }.toIndexedSeq: _*))
    when(forall(array(d2.toIndexedSeq: _*), _.isNotNull),
      transform(slice(ranked, 1, take), _.getField("i")))
  }

  private val (lshPlanes, lshTables) = (3, 2)

  /** the ±1 projection folds of [[LshTableKeys]] (weights from the
    * documented MurmurHash3 of (table, plane, dim-index)), one sign
    * bit per plane. The kernel compares in IEEE order, where NaN > 0
    * is false; Spark SQL orders NaN above every number, so the twin
    * excludes it explicitly. */
  private def lshTwin(v: Column): Column = {
    val projs = for (t <- 0 until lshTables; p <- 0 until lshPlanes) yield
      fold(toDoubles(v), typedlit(Seq.tabulate(dim) { d =>
        if (scala.util.hashing.MurmurHash3.productHash((t, p, d)) % 2 == 0) 1.0 else -1.0
      }))(_ * _)
    val keys = (0 until lshTables).map(t => (0 until lshPlanes).map { p =>
      val proj = projs(t * lshPlanes + p)
      when(proj > 0 && !isnan(proj), lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _))
    when(forall(array(projs: _*), _.isNotNull), array(keys: _*))
  }

  private def adcTwin(v: Column): Column = {
    val t = array(codebooks.zipWithIndex.map { case (cb, j) =>
      transform(lit2(cb), c => fold(slice(toDoubles(v), j * ds + 1, ds), c)(_ * _))
    }.toIndexedSeq: _*)
    when(forall(flatten(t), _.isNotNull), t)
  }

  /** kernel name -> (kernel, twin) for vectors `v`, `w` */
  private def kernels(v: Column, w: Column): Seq[(String, Column, Column)] = Seq(
    ("CosineSim", cosineSim(v, w), cosine(toDoubles(v), toDoubles(w))),
    ("DotProduct", dotProduct(v, w), dot(toDoubles(v), toDoubles(w))),
    ("NearestCells", nearestCells(v, centroids, 2), nearestTwin(v, 2)),
    ("LshTableKeys", lshTableKeys(v, dim, lshPlanes, lshTables), lshTwin(v)),
    ("PqAdcTable", pqAdcTable(v, codebooks), adcTwin(v)),
    ("CellDistTo", cellDistTo(v, col("cell"), centroids),
      fold(toDoubles(v), element_at(lit2(centroids), col("cell") + 1))((x, c) => (x - c) * (x - c))),
    ("CodesDot", codesDot(col("tab"), col("codes")), lookupSum(col("tab"), col("codes"))),
    ("CodesConstLookupSum", codesConstLookupSum(col("codes"), constTable),
      lookupSum(lit2(constTable), col("codes"))))

  /** equal values, doubles compared by bits (NaN == NaN) */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: collection.Seq[_], y: collection.Seq[_]) => x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def inMode[T](conf: Map[String, String])(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    body
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  for ((mode, conf) <- modes) {
    test(s"$mode: each kernel == its interpreted twin; malformed rows NULL, NaN rows NaN") {
      inMode(conf) {
        val elemTypes = Seq(FloatType, DoubleType, IntegerType, LongType)
        for (et <- elemTypes; (name, kernel, twin) <- kernels(
            col("v").cast(ArrayType(et)), col("w").cast(ArrayType(et)))) {
          // an integral array holds no NaN
          val integral = et == IntegerType || et == LongType
          val in = if (integral) data().where(col("id") =!= nanElem) else data()
          // separate queries: an interpreted twin in the same projection
          // would keep the kernel out of whole-stage codegen
          val k = in.select(col("id"), kernel)
          val codegen = k.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
          assert(codegen.isDefined == (mode == "whole-stage codegen"), s"$name: plan mode")
          val t = in.select(col("id"), twin).collect().map(r => r.getInt(0) -> r.get(1)).toMap
          val got = k.collect().map(r => r.getInt(0) -> (r.get(1), t(r.getInt(0)))).toMap
          got.foreach { case (id, (k, t)) =>
            assert(same(k, t), s"$name[$et] id=$id kernel=$k twin=$t")
          }
          assert(wellFormed.forall(i => got(i)._1 != null), s"$name[$et]: well-formed row gave NULL")
          // the vector kernels read v; CodesDot/CodesConstLookupSum read codes
          // (and tab), whose short / NULL-element / NULL rows line up
          Seq(short, nullElem, nullArr).foreach { id =>
            assert(got(id)._1 == null, s"$name[$et] id=$id: expected NULL")
          }
          if (!integral) got(nanElem)._1 match {
            case d: Double => assert(d.isNaN, s"$name[$et]: NaN row gave $d")
            case cells: collection.Seq[_] if name == "NearestCells" => assert(cells == Seq(0, 1))
            // every projection is NaN, and NaN > 0 sets no bit
            case keys: collection.Seq[_] if name == "LshTableKeys" => assert(keys == Seq(0L, 0L))
            case t: collection.Seq[_] =>
              assert(t(1).asInstanceOf[collection.Seq[Double]].forall(_.isNaN), s"$name: $t")
          }
        }
      }
    }

    test(s"$mode: a code or cell index outside its table throws") {
      inMode(conf) {
        val ok = rows.head
        val bad = Seq(
          ("CellDistTo", (c: Int) => ok.toSeq.updated(3, c),
            (d: DataFrame) => d.select(cellDistTo(col("v"), col("cell"), centroids)),
            Seq(-1, centroids.length)),
          ("CodesDot", (c: Int) => ok.toSeq.updated(4, Seq(0, c, 0)),
            (d: DataFrame) => d.select(codesDot(col("tab"), col("codes"))),
            Seq(-1, kSub)),
          ("CodesConstLookupSum", (c: Int) => ok.toSeq.updated(4, Seq(0, c, 0)),
            (d: DataFrame) => d.select(codesConstLookupSum(col("codes"), constTable)),
            Seq(-1, kSub)))
        for ((name, row, query, codes) <- bad; c <- codes) {
          val e = intercept[Exception](query(data(Seq(Row.fromSeq(row(c))))).collect())
          assert(causes(e).exists(_.isInstanceOf[IllegalArgumentException]),
            s"$name code $c: ${causes(e).map(_.getClass.getName)}")
        }
        // the interpreted twins fail on the same inputs (ANSI element_at)
        val twin = data(Seq(Row.fromSeq(ok.toSeq.updated(4, Seq(0, kSub, 0)))))
        intercept[Exception](twin.select(lookupSum(col("tab"), col("codes"))).collect())
      }
    }
  }

  private val texts: Seq[String] = Seq(
    "", "abc", "Hello World", "  tab\tand\nnewline  run ",
    "non-BMP 😀 code points 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 and é accents", "𝔘𝔫") ++
    Seq.fill(6)(Seq.fill(3 + rnd.nextInt(20))(
      Seq("lorem", "ipsum", "dolor", "sit", "amet", "😀x", "Zeta")(rnd.nextInt(7))).mkString(" "))
  private val inBloom = 0L until 40L
  private val keys: Seq[Long] = inBloom.take(5) ++ Seq(-7L, 41L, 1000L, 123456L, -99999L)
  private val bloom = BloomFilter.create(inBloom.size.toLong, 0.05)
  inBloom.foreach(bloom.putLong)
  private val cms = CountMinSketch.create(0.2, 0.9, 11)
  keys.zipWithIndex.foreach { case (k, i) => cms.add(java.lang.Long.valueOf(k), i + 1L) }

  private val rowSchema = StructType(Seq(
    StructField("id", IntegerType), StructField("t", StringType), StructField("u", StringType),
    StructField("ra", DoubleType), StructField("dec", DoubleType), StructField("key", LongType)))
  private val nullRow = 99
  private val rowInput: Seq[Row] = texts.indices.map { i =>
    Row(i, texts(i), texts((i + 1) % texts.size), rnd.nextDouble() * 360.0,
      rnd.nextDouble() * 180.0 - 90.0, keys(i % keys.size))
  } :+ Row(nullRow, null, null, null, null, null)

  /** (kernel name, kernel column, reference on the input row) for the
    * text, hash, HEALPix and sketch kernels; `raT` is the type ra/dec
    * are given as and `keyT` the key's. The reference reads ra/dec and
    * the key after the same cast, so DECIMAL and INT inputs are
    * compared at the values the kernel sees. */
  private def rowKernels(raT: DataType, keyT: DataType): Seq[(String, Column, Row => Any)] = {
    val (sh, nHash, band, nb) = (5, 8, 4, 16)
    val (nside, radius) = (64, 0.01)
    def txt(r: Row, c: String): UTF8String = UTF8String.fromString(r.getAs[String](c))
    def ang(r: Row, c: String): Double = r.getAs[Number](c).doubleValue
    def key(r: Row): Long = r.getAs[Number]("key").longValue
    val (t, u) = (Literal(""), Literal(""))
    val text: Seq[(Expression, Column)] = Seq(
      MinHashBands(t, sh, nHash, band) -> minHashBands(col("t"), sh, nHash, band),
      MinHashBandsPoly(t, sh, nHash, band) -> minHashBandsPoly(col("t"), sh, nHash, band),
      ShingleJaccard(t, u, sh) -> shingleJaccard(col("t"), col("u"), sh),
      SimHash64(t) -> simHash64(col("t")),
      TokenBuckets(t, nb) -> tokenBuckets(col("t"), nb),
      HashedTf(t, nb) -> hashedTf(col("t"), nb),
      CharEntropy(t) -> charEntropy(col("t")),
      CdcChunks(t, 3, 4) -> cdcChunks(col("t"), 3, 4))
    /** the kernel called directly on the driver, as a Scala value */
    def direct(e: Expression, r: Row): Any = CatalystTypeConverters.convertToScala(e match {
      case k: MinHashBands => k.kernel(txt(r, "t"))
      case k: MinHashBandsPoly => k.kernel(txt(r, "t"))
      case k: ShingleJaccard => k.kernel(txt(r, "t"), txt(r, "u"))
      case k: SimHash64 => k.kernel(txt(r, "t"))
      case k: TokenBuckets => k.kernel(txt(r, "t"))
      case k: HashedTf => k.kernel(txt(r, "t"))
      case k: CharEntropy => k.kernel(txt(r, "t"))
      case k: CdcChunks => k.kernel(txt(r, "t"))
    }, e.dataType)
    val (ra, dec, k) = (col("ra").cast(raT), col("dec").cast(raT), col("key").cast(keyT))
    text.map { case (e, c) => (e.nodeName, c, (r: Row) => direct(e, r)) } ++ Seq(
      ("HealpixCell", healpixCell(ra, dec, nside),
        (r: Row) => Healpix.ang2pixNest(nside, ang(r, "ra"), ang(r, "dec"))),
      ("HealpixCoverDisk", healpixCoverDisk(ra, dec, nside, radius), (r: Row) =>
        Healpix.coverDisk(nside, Healpix.ang2pixNest(nside, ang(r, "ra"), ang(r, "dec")), radius).toSeq),
      ("BloomMightContainLong", bloomMightContain(k, bloom), (r: Row) => bloom.mightContainLong(key(r))),
      ("CmsEstimateLong", cmsEstimate(k, cms),
        (r: Row) => cms.estimateCount(java.lang.Long.valueOf(key(r)))))
  }

  for ((mode, conf) <- modes) {
    test(s"$mode: each text, hash, HEALPix and sketch kernel == its reference; a NULL argument gives NULL") {
      inMode(conf) {
        val in = spark.createDataFrame(rowInput.asJava, rowSchema).repartition(1)
        for ((raT, keyT) <- Seq(DoubleType -> LongType, IntegerType -> IntegerType,
            LongType -> LongType, DecimalType(12, 6) -> IntegerType);
            (name, kernel, ref) <- rowKernels(raT, keyT)) {
          // the kernel's inputs as it reads them, beside its result
          val q = in.select(col("id"), col("t"), col("u"), col("ra").cast(raT).as("ra"),
            col("dec").cast(raT).as("dec"), col("key").cast(keyT).as("key"), kernel.as("k"))
          val codegen = q.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
          assert(codegen.isDefined == (mode == "whole-stage codegen"), s"$name: plan mode")
          val got = q.collect()
          assert(got.length == rowInput.length)
          got.foreach { r =>
            val k = r.get(r.fieldIndex("k"))
            if (r.getInt(0) == nullRow) assert(k == null, s"$name[$raT, $keyT]: NULL row gave $k")
            else {
              val want = ref(r)
              assert(same(k, want), s"$name[$raT, $keyT] id=${r.getInt(0)} kernel=$k reference=$want")
            }
          }
        }
      }
    }
  }

  test("text, HEALPix and sketch kernels reject other argument types at analysis") {
    val d = data()
    Seq(
      () => d.select(simHash64(col("id"))),
      () => d.select(shingleJaccard(lit("a"), col("v"), 5)),
      () => d.select(minHashBands(col("cell"), 5, 8, 4)),
      () => d.select(minHashBandsPoly(lit(1.5), 5, 8, 4)),
      () => d.select(tokenBuckets(col("v"), 16)),
      () => d.select(hashedTf(lit(true), 16)),
      () => d.select(charEntropy(col("id"))),
      () => d.select(cdcChunks(col("codes"), 3, 4)),
      () => d.select(healpixCell(lit("10"), lit(20.0), 64)),
      () => d.select(healpixCoverDisk(lit(10.0), col("v"), 64, 0.01)),
      () => d.select(bloomMightContain(lit(1.5), BloomFilter.create(10))),
      () => d.select(cmsEstimate(lit("k"), CountMinSketch.create(0.1, 0.9, 1)))
    ).foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](q())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }

  test("kernels reject non-numeric-array arguments at analysis") {
    val d = data()
    Seq(
      () => d.select(cosineSim(col("id"), col("id"))),
      () => d.select(dotProduct(col("v"), lit("x"))),
      () => d.select(nearestCells(array(lit("a")), centroids, 1)),
      () => d.select(lshTableKeys(array(lit("a")), dim, lshPlanes, lshTables)),
      () => d.select(cellDistTo(col("v"), col("v"), centroids)),
      () => d.select(codesDot(col("v"), col("codes"))),
      () => d.select(codesConstLookupSum(col("v"), constTable))
    ).foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](q())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }
}

/** The interpreted twins of the compiled vector kernels. Floats widen
  * to double before multiplying, as in the kernels. */
object ArrayKernelSpec {

  def toDoubles(v: Column): Column = transform(v, _.cast(DoubleType))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
