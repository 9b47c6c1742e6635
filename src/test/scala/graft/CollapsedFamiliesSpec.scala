package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source tripwires, in the style of HarnessSpec, that keep two
  * collapsed families collapsed: the "first k rows per key" window has
  * one owner, [[graft.operators.GroupOps.topKPerGroup]], and the
  * neighbour-cell explode of the cell-bucketed joins lives in Spatial.
  * Both scan comment-stripped code ([[ReachSpec.code]]). */
class CollapsedFamiliesSpec extends AnyFunSuite {

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** (file name, comment-stripped code) of every source under `dir`. */
  private def code(dir: String): Seq[(String, String)] =
    sources(new java.io.File(dir)).map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      f.getName -> ReachSpec.code(try s.mkString finally s.close())
    }

  /** The row_number() windows outside GroupOps, by (file, enclosing
    * def), each with the reason it is not a first-k-per-key tail. */
  private val rankAllowed: Map[(String, String), String] = Map(
    ("Text.scala", "balancedMix") ->
      "per-row quota: keeps mix_rank <= _k, a bound joined in per stratum",
    ("Text.scala", "temperatureMix") ->
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
}
