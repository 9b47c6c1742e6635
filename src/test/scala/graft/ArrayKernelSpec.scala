package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Expressions._
import graft.operators.Vectors.{cosine, dot, toDoubles}

/** The numeric-array kernels against their interpreted
  * zip_with/aggregate/element_at twins, under whole-stage codegen and
  * with code generation off. Well-formed rows must match bit for bit;
  * a short array, a NULL element or a NULL array gives NULL; a NaN
  * element gives NaN; a PQ code or cell index outside its table
  * throws. */
class ArrayKernelSpec extends SparkSpec {

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

  test("kernels reject non-numeric-array arguments at analysis") {
    val d = data()
    Seq(
      () => d.select(cosineSim(col("id"), col("id"))),
      () => d.select(dotProduct(col("v"), lit("x"))),
      () => d.select(nearestCells(array(lit("a")), centroids, 1)),
      () => d.select(cellDistTo(col("v"), col("v"), centroids)),
      () => d.select(codesDot(col("v"), col("codes"))),
      () => d.select(codesConstLookupSum(col("v"), constTable))
    ).foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](q())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    }
  }
}
