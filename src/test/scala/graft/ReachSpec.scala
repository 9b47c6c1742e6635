package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source tripwire for the public operator surface: every public def of
  * an object under the scanned packages has a caller in src/main, which
  * puts it under a registered query and so under the oracle, or sits on
  * the allowlist with its reason. `graft.syntax` does not count as a
  * caller (it only gives reference methods a second spelling), and each
  * of its methods must cite the reference method it mirrors. */
class ReachSpec extends AnyFunSuite {
  import ReachSpec.code

  private val root = new java.io.File("src/main/scala/graft")

  /** streaming/ is not scanned: the batch registry cannot drive a
    * stream, so StreamsSpec and StatefulStreamsSpec cover it. */
  private val scanned = Seq("core", "functions", "operators", "ml", "sources")

  /** Public defs without a src/main caller, each with its reason. */
  private val allowlist = Map(
    "Tables.memUsageMb" -> "C10: no oracle can check a statistics estimate; TablesSpec covers it",
    "Jenks.binOf" -> "the scalar pd.cut reference MlSpec checks the breaks against",
    "GroupApply.groupApplyExact" -> "runs a user closure; OperatorsSpec covers it",
    "Dedup.dupGroupStats" -> "the unfused twin of dupGroupSizeStats in DedupVectorsSpec's identity test",
    "CalibratorSource.loadForFootprint" -> "the S8 connector seam; ConnectorsSpec covers it")

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Seq.empty

  private def read(f: java.io.File): String = {
    val s = scala.io.Source.fromFile(f, "UTF-8")
    try s.mkString finally s.close()
  }

  private val owner =
    """^((?:(?:final|case|abstract|sealed|implicit|private|protected)(?:\[\w+\])?\s+)*)(object|class|trait)\s+(\w+)""".r
  private val member = """^  (?:(?:final|implicit|@\w+)\s+)*def\s+([A-Za-z_]\w*)""".r

  /** (file, "Object.def") of every public member def of a top-level
    * object in the scanned packages. */
  private lazy val declared: Seq[(String, String)] =
    scanned.flatMap(d => sources(new java.io.File(root, d))).flatMap { f =>
      var obj: Option[String] = None
      code(read(f)).split('\n').toSeq.flatMap { line =>
        owner.findPrefixMatchOf(line) match {
          case Some(m) =>
            val public = !m.group(1).contains("private") && !m.group(1).contains("protected")
            obj = if (public && m.group(2) == "object") Some(m.group(3)) else None
            None
          case None =>
            for (o <- obj; m <- member.findPrefixMatchOf(line)) yield f.getPath -> s"$o.${m.group(1)}"
        }
      }
    }

  private lazy val publicDefs: Seq[String] = declared.map(_._2).distinct

  /** The files declaring each scanned object. */
  private lazy val homes: Map[String, Set[String]] =
    declared.groupMap(_._2.split('.').head)(_._1).view.mapValues(_.toSet).toMap

  private val importStmt = """\bimport\s+[\w.]+(?:\{[^}]*\})?""".r

  /** Comment-stripped src/main, graft.syntax left out: (file, its import
    * statements, the code without them). */
  private lazy val callers: Seq[(String, Seq[String], String)] =
    sources(root).filterNot(_.getName == "Syntax.scala").map { f =>
      val c = code(read(f))
      (f.getPath, importStmt.findAllIn(c).toSeq, importStmt.replaceAllIn(c, " "))
    }

  /** `Obj.name` is reached where src/main says `Obj.name`, or says the
    * bare `name` (more often than it declares `def name`) in Obj's own
    * file or in a file importing `Obj._`, `Obj.name` or `Obj.{…name…}`.
    * A same-named word anywhere else is not a call. */
  private def reached(qualified: String): Boolean = {
    val Array(obj, name) = qualified.split('.')
    val (o, n) = (java.util.regex.Pattern.quote(obj), java.util.regex.Pattern.quote(name))
    val (bare, decl) = (s"\\b$n\\b".r, s"\\bdef\\s+$n\\b".r)
    val viaObj = s"\\b$o\\s*\\.\\s*$n\\b".r
    val grants = s"\\b$o\\.(?:_|$n|\\{[^}]*\\b$n\\b[^}]*\\})$$".r
    callers.exists { case (path, imports, body) =>
      viaObj.findFirstIn(body).nonEmpty ||
        ((homes(obj).contains(path) || imports.exists(grants.findFirstIn(_).nonEmpty)) &&
          bare.findAllIn(body).size > decl.findAllIn(body).size)
    }
  }

  test("the scan finds the public defs") {
    // a parser that found nothing would pass every other check
    assert(publicDefs.size > 250, s"only ${publicDefs.size} public defs found")
    assert(publicDefs.contains("Dedup.exact") && publicDefs.contains("Tables.load"))
  }

  test("every public def has a src/main caller or an allowlisted reason") {
    val unreached = publicDefs.filterNot(reached).filterNot(allowlist.contains)
    assert(unreached.isEmpty,
      s"no src/main caller (route a query through it, delete it, or allowlist it with a reason): $unreached")
  }

  test("every allowlisted def exists and still has no src/main caller") {
    val stale = allowlist.keys.toSeq.sorted.filter(d => !publicDefs.contains(d) || reached(d))
    assert(stale.isEmpty, s"allowlist entries that are gone or now reached: $stale")
  }

  test("every graft.syntax method cites the reference method it mirrors") {
    val text = read(new java.io.File(root, "Syntax.scala"))
    val defs = """(?s)/\*\*((?:(?!\*/).)*)\*/\s*def\s+(\w+)""".r.findAllMatchIn(text)
      .map(m => m.group(2) -> m.group(1)).toSeq
    val undocumented = """\n    def\s+(\w+)""".r.findAllMatchIn(text).map(_.group(1)).toSeq
      .filterNot(defs.map(_._1).contains)
    assert(undocumented.isEmpty, s"graft.syntax methods without a scaladoc: $undocumented")
    val uncited = defs.collect { case (name, doc) if """\w+\.py:\d+""".r.findFirstIn(doc).isEmpty => name }
    assert(uncited.isEmpty, s"graft.syntax methods citing no reference .py location: $uncited")
  }
}

object ReachSpec {

  private val charLiteral = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  /** `src` without comments, each string literal reduced to the code it
    * interpolates (`${expr}`, `$name`): a name in prose or in SQL text
    * is not a call. Line breaks are kept. `keepStrings` keeps each
    * literal's text as written, for checks that read SQL text. */
  def code(src: String, keepStrings: Boolean = false): String = {
    val out = new StringBuilder
    def charLit(i: Int): Option[Int] =
      charLiteral.findPrefixOf(src.substring(i, math.min(i + 8, src.length))).map(i + _.length)

    // code from `from` to the end or, when `nested`, to the `}` closing
    // an interpolation; the index after what was read
    def scanCode(from: Int, nested: Boolean): Int = {
      var (i, depth) = (from, 0)
      while (i < src.length) {
        val c = src(i)
        if (src.startsWith("//", i)) {
          while (i < src.length && src(i) != '\n') i += 1
        } else if (src.startsWith("/*", i)) {
          var (j, open) = (i + 2, 1)
          while (j < src.length && open > 0) {
            if (src.startsWith("/*", j)) { open += 1; j += 2 }
            else if (src.startsWith("*/", j)) { open -= 1; j += 2 }
            else j += 1
          }
          out ++= " " + "\n" * src.substring(i, j).count(_ == '\n')
          i = j
        } else if (src.startsWith("\"\"\"", i)) i = scanString(i + 3, triple = true)
        else if (c == '"') i = scanString(i + 1, triple = false)
        else if (c == '\'' && charLit(i).nonEmpty) i = charLit(i).get
        else if (c == '}' && nested && depth == 0) return i + 1
        else {
          if (c == '{') depth += 1 else if (c == '}') depth -= 1
          out += c
          i += 1
        }
      }
      i
    }

    def scanString(from: Int, triple: Boolean): Int = {
      var i = from
      out += ' '
      while (i < src.length) {
        val c = src(i)
        if (triple && src.startsWith("\"\"\"", i)) {
          i += 3
          while (i < src.length && src(i) == '"') i += 1 // """a"""" ends at its last quote
          return i
        } else if (!triple && c == '"') return i + 1
        else if (!triple && c == '\n') return i
        else if (!triple && c == '\\') {
          if (keepStrings) out ++= src.substring(i, math.min(i + 2, src.length))
          i += 2
        } else if (src.startsWith("$$", i)) i += 2
        else if (src.startsWith("${", i)) {
          out += ' '
          i = scanCode(i + 2, nested = true)
          out += ' '
        } else if (keepStrings) {
          out += c
          i += 1
        } else if (c == '$' && i + 1 < src.length && Character.isJavaIdentifierStart(src(i + 1))) {
          var j = i + 1
          while (j < src.length && Character.isJavaIdentifierPart(src(j))) j += 1
          out ++= src.substring(i + 1, j) += ' '
          i = j
        } else {
          if (c == '\n') out += '\n'
          i += 1
        }
      }
      i
    }

    scanCode(0, nested = false)
    out.toString
  }
}
