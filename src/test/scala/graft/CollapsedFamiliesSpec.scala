package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source tripwires, in the style of HarnessSpec, that keep five
  * collapsed families collapsed: the "first k rows per key" window has
  * one owner, [[graft.operators.GroupOps.topKPerGroup]]; the
  * neighbour-cell explode of the cell-bucketed joins lives in Spatial;
  * every Catalyst kernel sits on the one contract,
  * [[graft.functions.Expressions.Kernel]]; the stateful stream
  * operators share one keyed fold in Streams; and the corpus-rewrite
  * dedups share one repeated-n-gram core in Dedup. They scan
  * comment-stripped code ([[ReachSpec.code]]). */
class CollapsedFamiliesSpec extends AnyFunSuite {

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (file name, comment-stripped code) of every source under `dir`;
    * string literals keep their text only when `keepStrings`. */
  private def code(dir: String, keepStrings: Boolean = false): Seq[(String, String)] =
    sources(new java.io.File(dir)).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      f.getName -> ReachSpec.code(try s.mkString finally s.close(), keepStrings)
    }

  /** The row_number() windows outside GroupOps, by (file, enclosing
    * def), each with the reason it is not a first-k-per-key tail. */
  private val rankAllowed: Map[(String, String), String] = Map(
    ("Text.scala", "quotaCut") ->
      "per-row quota: keeps mix_rank <= _k, a bound joined in per stratum",
    ("Dedup.scala", "containmentPairs") ->
      "prefix rank: each document's own prefix length bounds its rank",
    ("Dedup.scala", "keepBestPerGroup") ->
      "computes its rank and its group count in one window pass",
    ("Skew.scala", "skewReport") ->
      "global rank over the <= topK heavy-hitter rows: no partition key")

  private val memberDef = """(?m)^  (?:(?:private|protected)(?:\[\w+\])?\s+)?def\s+(\w+)""".r

  test("row_number() in operators only in GroupOps and at the allowlisted sites") {
    val sites = code("src/main/scala/graft/operators").flatMap { case (file, src) =>
      """\brow_number\s*\(\s*\)""".r.findAllMatchIn(src).map { m =>
        file -> memberDef.findAllMatchIn(src.take(m.start)).toSeq.lastOption.fold("?")(_.group(1))
      }
    }
    val stray = sites.filterNot(s => s._1 == "GroupOps.scala" || rankAllowed.contains(s))
    assert(stray.isEmpty,
      s"row_number() outside GroupOps (route it through GroupOps.topKPerGroup or allowlist it with a reason): $stray")
    assert(sites.count(_._1 == "GroupOps.scala") == 1, s"GroupOps must hold the rank tail: $sites")
    val stale = rankAllowed.keys.toSeq.filterNot(sites.contains)
    assert(stale.isEmpty, s"allowlisted rank sites that are gone: $stale")
  }

  test("the neighbour-cell explode appears only in Spatial") {
    val explode3 = """explode\s*\(\s*array\s*\(\s*lit\s*\(\s*-1\s*\)\s*,\s*lit\s*\(\s*0\s*\)\s*,\s*lit\s*\(\s*1\s*\)\s*\)\s*\)""".r
    val hits = code("src/main/scala").collect {
      case (file, src) if explode3.findFirstIn(src).nonEmpty => file -> explode3.findAllIn(src).size
    }
    assert(hits == Seq("Spatial.scala" -> 1), s"neighbour explodes (use Spatial.withNeighborCells): $hits")
  }

  test("every Catalyst kernel is on the one contract, whose base alone writes codegen Java") {
    val main = code("src/main/scala")
    val refs = main.map { case (file, src) => file -> """addReferenceObj\(""".r.findAllIn(src).size }
      .filter(_._2 > 0)
    assert(refs == Seq("Expressions.scala" -> 1),
      s"addReferenceObj( sites (emit kernel calls through Kernel.callKernel): $refs")
    val expressions = main.collect { case ("Expressions.scala", src) => src }.head
    val kernels = """case class (\w+)\b[^{]*?\bextends\s+(?:Unary|Binary)Expression\b([^{]*)\{""".r
      .findAllMatchIn(expressions).map(m => m.group(1) -> m.group(2)).toSeq
    val off = kernels.collect { case (name, mixins) if !mixins.matches("""(?s).*\bwith\s+Kernel\b.*""") => name }
    assert(kernels.nonEmpty && off.isEmpty, s"kernels off the Kernel contract: $off")
    // code() keeps a string's interpolations, so `ev.value` outside the
    // base is a kernel writing its own Java
    val base = """(?s)sealed trait Kernel\b.*?\n  \}\n""".r.findFirstMatchIn(expressions)
    val writes = main.flatMap { case (file, src) =>
      """\bev\.value\b""".r.findAllMatchIn(src)
        .filterNot(m => file == "Expressions.scala" && base.exists(b => b.start <= m.start && m.end <= b.end))
        .map(m => file -> src.take(m.start).count(_ == '\n'))
    }
    assert(writes.isEmpty, s"codegen Java outside the Kernel base: $writes")
  }

  test("stateful stream operators share one keyed fold; rewrite dedups one n-gram core") {
    def sites(files: Seq[(String, String)], text: String): Seq[(String, Int)] =
      files.map { case (file, src) =>
        file -> java.util.regex.Pattern.quote(text).r.findAllIn(src).size
      }.filter(_._2 > 0)
    val main = code("src/main/scala")
    Seq("flatMapGroupsWithState(", "hasTimedOut").foreach { text =>
      assert(sites(main, text) == Seq("Streams.scala" -> 1),
        s"$text sites (write a stateful operator as a step of Streams.keyedFold): ${sites(main, text)}")
    }
    // the positional n-gram expression is SQL text inside expr(s"..."),
    // which code() drops unless string literals are kept
    val ngrams = sites(code("src/main/scala", keepStrings = true),
      "transform(sequence(0, int(n_tokens) - ")
    assert(ngrams == Seq("Dedup.scala" -> 1),
      s"positional n-gram sites (use Dedup.repeatedNgramCover): $ngrams")
  }
}
