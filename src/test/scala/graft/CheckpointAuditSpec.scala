package graft

import org.scalatest.funsuite.AnyFunSuite

/** Repo-wide source tripwire (VERDICT r10 #1): `localCheckpoint`
  * pins blocks UNRECOVERABLY on executor storage — lineage is
  * truncated, so at cluster scale one executor loss kills the job if
  * the frame can't be rebuilt. That is acceptable only when the frame
  * is (a) bounded (group-cardinality aggregates, driver-bounded
  * subsets), (b) loop-carried state whose lineage genuinely must be
  * cut (persist cannot bound plan depth), or (c) a harness/dev
  * barrier off the scale path. Fact-sized multi-scan frames must use
  * `persist(MEMORY_AND_DISK)` instead — recomputable and spillable
  * (the PMI recipe, Text.scala).
  *
  * Enforcement: every `.localCheckpoint()` call in src/main, and every
  * `.cut(` of a [[graft.core.LoopFrames]] (whose one localCheckpoint
  * serves all loops), must carry a `CP-OK:` justification comment
  * within the preceding lines.
  * A new unjustified call fails here until its author writes down why
  * the frame is bounded or why the cut is required — the same
  * explicit-allowlist discipline PlanAuditSpec applies to broadcast
  * crosses.
  */
class CheckpointAuditSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala")

  private def scalaFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  /** Lines above the call that may carry the CP-OK marker. The marker
    * must sit adjacent to the call, not anywhere in the file. */
  private val MarkerWindow = 8

  /** `file:line` of every code line matching `isCall` with no
    * `CP-OK:` marker in the window above it. */
  private def unjustified(isCall: String => Boolean): Seq[String] = for {
    file <- scalaFiles(root)
    src = {
      val s = scala.io.Source.fromFile(file, "UTF-8")
      try s.getLines().toVector finally s.close()
    }
    (line, i) <- src.zipWithIndex
    // match the CALL, not prose in Scaladoc/comments
    if isCall(line)
    if !Seq("*", "/*", "//").exists(line.trim.startsWith)
    window = src.slice(math.max(0, i - MarkerWindow), i + 1)
    if !window.exists(_.contains("CP-OK:"))
  } yield s"${file.getPath}:${i + 1}"

  private def hint(what: String, offenders: Seq[String]): String =
    s"\nunjustified $what call sites (add a `// CP-OK: <why bounded / why the cut is required>` " +
      s"comment within $MarkerWindow lines, or convert to persist(MEMORY_AND_DISK)):\n  " +
      offenders.mkString("\n  ")

  test("every localCheckpoint call site in src/main carries a CP-OK justification") {
    val offenders = unjustified(_.contains(".localCheckpoint()"))
    assert(offenders.isEmpty, hint("localCheckpoint", offenders))
  }

  test("every LoopFrames cut call site in src/main carries a CP-OK justification") {
    // LoopFrames.cut holds the one loop-state localCheckpoint, so the
    // loops' own sites would escape the audit above
    val offenders = unjustified(_.contains(".cut("))
    assert(offenders.isEmpty, hint("LoopFrames cut", offenders))
  }

  test("corpus-sized dedup frames stay on recomputable persist (regression guard)") {
    // the two frames VERDICT r10 flagged: containmentPairs' shingle
    // frame and dupSpanCoverage's token frame. Guard the fix shape so
    // a refactor can't silently reintroduce the pin.
    val src = {
      val s = scala.io.Source.fromFile(
        "src/main/scala/graft/operators/Dedup.scala", "UTF-8")
      try s.mkString finally s.close()
    }
    assert(src.contains("persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)"),
      "Dedup.scala lost its recomputable persist sites")
    assert(!src.contains("localCheckpoint()"),
      "Dedup.scala regained a localCheckpoint — its materializations are all fact- or pair-graph-sized and must stay recomputable")
  }
}
