package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source tripwire, in the style of [[CollapsedFamiliesSpec]], that
  * keeps operator sizing to one value per knob: a public def under
  * `operators/`, `core/`, `ml/` or `sources/` takes the size it uses
  * (`planes`, `nBits`), never a hint or an override for a size it
  * would otherwise compute, and no spec-only path switch
  * (`checkpointEvery`, `driverMaxEdges`). Specs reach the scale paths
  * through the session (`SparkSpec.noBroadcast`) or a `private[graft]`
  * def (`Clustering.starRounds`). It scans comment-stripped code
  * ([[ReachSpec.code]]). */
class SizingParamsSpec extends AnyFunSuite {

  private val scanned = Seq("core", "operators", "ml", "sources")

  private val banned = """(?:\w*Hint|hint|\w*Override|checkpointEvery|driverMaxEdges)""".r

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  private val memberDef = """(?m)^  (?:(?:final|implicit|override|@\w+)\s+)*def\s+([A-Za-z_]\w*)""".r

  /** The index just past the bracket group opening at `from`. */
  private def closeOf(src: String, from: Int): Int = {
    val (open, close) = (src(from), if (src(from) == '(') ')' else ']')
    var (i, depth) = (from, 0)
    do {
      if (src(i) == open) depth += 1 else if (src(i) == close) depth -= 1
      i += 1
    } while (depth > 0)
    i
  }

  /** Each public member def of `src` with its parameter names, over
    * all of its parameter lists. */
  private[graft] def params(src: String): Seq[(String, Seq[String])] =
    memberDef.findAllMatchIn(src).map { m =>
      def skipWs(i: Int) = src.indexWhere(!_.isWhitespace, i)
      var i = skipWs(m.end)
      if (i >= 0 && src(i) == '[') i = skipWs(closeOf(src, i))
      val names = Seq.newBuilder[String]
      while (i >= 0 && src(i) == '(') {
        val end = closeOf(src, i)
        // split the list at its own commas, not at nested ones
        var (depth, start) = (0, i + 1)
        for (j <- i + 1 until end - 1) src(j) match {
          case '(' | '[' | '{' => depth += 1
          case ')' | ']' | '}' => depth -= 1
          case ',' if depth == 0 => names += src.substring(start, j); start = j + 1
          case _ =>
        }
        names += src.substring(start, end - 1)
        i = skipWs(end)
      }
      m.group(1) -> names.result().flatMap(p =>
        """^\s*(?:implicit\s+)?(\w+)\s*:""".r.findFirstMatchIn(p).map(_.group(1)))
    }.toSeq

  private lazy val declared: Seq[(String, String, Seq[String])] =
    scanned.flatMap(d => sources(new java.io.File("src/main/scala/graft", d))).flatMap { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      params(ReachSpec.code(try s.mkString finally s.close()))
        .map { case (name, ps) => (f.getName, name, ps) }
    }

  test("the scan reads parameter lists, type parameters and nested defaults included") {
    val src = """object O {
                |  def a[T <: Seq[Int]](df: T, f: Option[Int => Int] = Some((x: Int) => x), nHint: Long = -1L)(
                |      implicit ev: Ordering[T]): Unit = ()
                |  private def b(sizeOverride: Int): Int = sizeOverride
                |  def c: Int = 1
                |}""".stripMargin
    assert(params(src) == Seq("a" -> Seq("df", "f", "nHint", "ev"), "c" -> Nil))
    val lsh = declared.collect { case (f, n, ps) if f == "Vectors.scala" && n == "lshTopK" => ps }
    assert(lsh.size == 1 && Seq("df", "planes", "queryPred").forall(lsh.head.contains), lsh)
    assert(declared.size > 250, s"only ${declared.size} public defs found")
  }

  test("no public operator def takes a size hint, a size override or a spec-only path switch") {
    val offending = declared.flatMap { case (f, n, ps) =>
      ps.filter(banned.matches).map(p => s"$f: $n($p)")
    }
    assert(offending.isEmpty,
      "pass the computed size (Vectors.planesFor, Dedup.bloomBitsFor) or reach the path through " +
        s"the session instead: $offending")
  }
}
