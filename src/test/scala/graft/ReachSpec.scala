package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds only what the system runs: every public member
  * (a `def`, `val` or `var` of an object, class or trait that is not
  * `private`, `protected`, `override` or `implicit`, and not a `main`)
  * must be named somewhere else in `src/main` — by a registry query, a
  * pipeline, a main or another member. Comments, string literals and
  * import clauses do not count as a use; a spec does not either. A
  * member the system reaches only from outside (an entry point a
  * harness drives, a sink a caller wires up) sits on the allow-list
  * below with the reason it stays.
  */
class ReachSpec extends AnyFunSuite {

  /** Qualified member name -> why it stays although nothing in
    * `src/main` names it. Keep this list short: the verdict for
    * anything else is delete it or move it to the test tree.
    */
  private val allowed: Map[String, String] = Map(
    "graft.pipelines.Pipelines.rawIngest" ->
      "reference job: perfbench's upbit_daily drives it",
    "graft.pipelines.Pipelines.dailyDollarBars" ->
      "reference job: perfbench's upbit_daily drives it",
    "graft.pipelines.Pipelines.druidFeatures" ->
      "reference job: perfbench's upbit_stream drives it",
    "graft.pipelines.Pipelines.realtimeBookOfi" ->
      "reference job: the batch form of the realtime order-book OFI stage",
    "graft.stream.Streams.fileSink" ->
      "the exactly-once parquet sink of the streaming jobs (§2 K1)",
    "graft.stream.Streams.upsertSink" ->
      "the idempotent keyed upsert sink for stateful stream outputs",
    "graft.ops.Envelope.parseWithQuarantine" ->
      "validation of outside input: malformed envelopes go to quarantine",
    "graft.llm.QualityClassifier.nbFilter" ->
      "serving family: direction I second pass",
  )

  import ReachSpec._

  test("the scanner sees members and skips comments, strings and locals") {
    val src = code(
      """package p
        |object O {
        |  /** [[O.gone]] */
        |  def kept(x: Int): Int = { val local = x; local }
        |  def gone: String = s"$kept ${kept(1)} gone" // gone
        |  private def hidden = 1
        |  override def toString = "kept"
        |  class C(val ctor: Int) { def inner = ctor }
        |}
        |""".stripMargin)
    val members = sites(Paths.get("O.scala"), src).filter(_.member).map(_.qualified)
    assert(members == Seq("p.O.kept", "p.O.gone", "p.O.C.inner"))
    assert(!src.contains("[[O.gone]]") && !src.contains("\"kept\"") && src.contains("kept(1)"))
  }

  test("every public member of src/main is named elsewhere in src/main") {
    val bad = unreached.filterNot(s => allowed.contains(s.qualified))
      .map(s => s"${s.file}:${s.line}: ${s.qualified}")
    assert(bad.isEmpty, bad.mkString(
      "\nnot named anywhere else in src/main (delete it, move it to the test tree, " +
        "or give it an allow-list reason):\n", "\n", ""))
  }

  test("the allow-list has no stale entry and gives each entry a reason") {
    val members = defs.filter(_.member).map(_.qualified).toSet
    val gone = allowed.keys.filterNot(members).toSeq.sorted
    assert(gone.isEmpty, gone.mkString("allow-listed but no longer defined:\n", "\n", ""))
    val reached = allowed.keySet -- unreached.map(_.qualified)
    assert(reached.isEmpty, reached.toSeq.sorted.mkString("allow-listed but now reached:\n", "\n", ""))
    assert(allowed.values.forall(_.trim.nonEmpty))
    assert(allowed.size <= 10, s"${allowed.size} allow-list entries; keep it to 10 or fewer")
  }
}

/** The scanner: a comment- and string-blind lexer over `src/main`
  * and the definition sites it finds.
  */
object ReachSpec {

  /** Every `.scala` file under `root` with its text, in path order. */
  def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

  /** `text` with comments, string-literal contents and char literals
    * blanked (newlines kept, so offsets and lines stay put). The
    * `$name` and `${…}` parts of an interpolated string are code and
    * are kept.
    */
  def code(text: String): String = {
    val out = new StringBuilder(text.length)
    val n = text.length
    def blank(c: Char): Unit = out += (if (c == '\n') '\n' else ' ')
    def identPart(c: Char) = c.isLetterOrDigit || c == '_'
    var i = 0
    // copy an interpolated string's `$name`/`${…}` parts; blank the rest
    def stringBody(triple: Boolean, interpolated: Boolean): Unit = {
      var open = true
      while (open && i < n) {
        val c = text(i)
        if (triple && text.startsWith("\"\"\"", i)) {
          // a run of more than three quotes ends with the last three
          var j = i + 3
          while (j < n && text(j) == '"') j += 1
          (i until j).foreach(_ => out += '"'); i = j; open = false
        } else if (!triple && c == '"') {
          out += '"'; i += 1; open = false
        } else if (!triple && c == '\\' && i + 1 < n) {
          blank(c); blank(text(i + 1)); i += 2
        } else if (interpolated && c == '$' && i + 1 < n && text(i + 1) == '{') {
          var depth = 0
          var j = i + 1
          do {
            if (text(j) == '{') depth += 1 else if (text(j) == '}') depth -= 1
            j += 1
          } while (depth > 0 && j < n)
          out += ' '; out ++= text.substring(i + 1, j); i = j
        } else if (interpolated && c == '$' && i + 1 < n && (text(i + 1).isLetter || text(i + 1) == '_')) {
          var j = i + 1
          while (j < n && identPart(text(j))) j += 1
          out += ' '; out ++= text.substring(i + 1, j); i = j
        } else { blank(c); i += 1 }
      }
    }
    while (i < n) {
      val c = text(i)
      if (text.startsWith("//", i)) {
        while (i < n && text(i) != '\n') { blank(text(i)); i += 1 }
      } else if (text.startsWith("/*", i)) {
        var depth = 0
        var open = true
        while (open && i < n) {
          if (text.startsWith("/*", i)) { depth += 1; blank(' '); blank(' '); i += 2 }
          else if (text.startsWith("*/", i)) {
            depth -= 1; blank(' '); blank(' '); i += 2; open = depth > 0
          } else { blank(text(i)); i += 1 }
        }
      } else if (c == '"') {
        val interpolated = i > 0 && identPart(text(i - 1))
        val triple = text.startsWith("\"\"\"", i)
        val q = if (triple) 3 else 1
        out ++= text.substring(i, i + q); i += q
        stringBody(triple, interpolated)
      } else if (c == '\'' && i + 2 < n && text(i + 1) == '\\') {
        val j = text.indexOf('\'', i + 3)
        (i to j).foreach(k => blank(text(k))); i = j + 1
      } else if (c == '\'' && i + 2 < n && text(i + 2) == '\'') {
        blank(c); blank(text(i + 1)); blank(c); i += 3
      } else { out += c; i += 1 }
    }
    out.toString
  }

  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Keyword = """\b(def|val|var)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Modifiers =
    """(?:(?:(?:private|protected)(?:\[[\w.]+\])?|override|final|implicit|lazy|@[\w.]+(?:\([^)]*\))?)\s+)*$""".r
  private val TypeDef = """\b(object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
  private val Package = """(?m)^package\s+([\w.]+)""".r
  private val Import = """(?m)^\s*import\s+[^\n]*""".r
  private val Hidden = """\b(private|protected)\b(?!\[)""".r
  private val Exempt = """\b(override|implicit)\b""".r
  private val SyntaxNames = Set("main", "apply", "unapply", "unapplySeq", "update")

  /** A definition site: `name` at `offset` of `file`; `member` when it
    * is a public, non-override, non-implicit def/val/var of a template.
    */
  case class Site(file: Path, offset: Int, line: Int, qualified: String,
                  name: String, member: Boolean)

  /** The `{` at `pos` opens a template body when the statement it ends
    * has an object/class/trait keyword after its last def/val/var; the
    * template's name and whether it is public.
    */
  private def templateOf(src: String, pos: Int): Option[(String, Boolean)] = {
    val from = math.max(src.lastIndexWhere(c => c == '{' || c == '}' || c == ';', pos - 1), 0)
    // blank what sits inside parentheses: `class C(val x: Int) {` is a template
    var depth = 0
    val seg = src.substring(from, pos).map { c =>
      if (c == '(') depth += 1
      val inside = depth > 0
      if (c == ')') depth -= 1
      if (inside) ' ' else c
    }
    val lastTerm = Keyword.findAllMatchIn(seg).map(_.start).maxOption.getOrElse(-1)
    TypeDef.findAllMatchIn(seg).toSeq.lastOption.filter(_.start > lastTerm).map { m =>
      val mods = Modifiers.findFirstMatchIn(seg.substring(0, m.start)).map(_.matched).getOrElse("")
      (m.group(2), Hidden.findFirstIn(mods).isEmpty)
    }
  }

  def sites(path: Path, src: String): Seq[Site] = {
    val pkg = Package.findAllMatchIn(src).map(_.group(1)).mkString(".")
    val lineStarts = src.indices.filter(i => i == 0 || src(i - 1) == '\n').toArray
    def lineOf(off: Int) = java.util.Arrays.binarySearch(lineStarts, off) match {
      case k if k >= 0 => k + 1
      case k => -k - 1
    }
    // stack of open braces: (template name if a template body, whether
    // every enclosing template is public, paren depth at the brace)
    case class Open(template: Option[String], public: Boolean, parens: Int)
    val stack = mutable.Stack[Open]()
    val keywords = Keyword.findAllMatchIn(src).toSeq ++ TypeDef.findAllMatchIn(src).toSeq
    val byOffset = keywords.groupBy(_.start)
    val out = Seq.newBuilder[Site]
    var parens = 0
    for (i <- src.indices) {
      byOffset.getOrElse(i, Nil).foreach { m =>
        val inPublicTemplate = stack.headOption
          .exists(o => o.template.isDefined && o.public && o.parens == parens)
        val mods = Modifiers.findFirstMatchIn(src.substring(math.max(0, i - 200), i))
          .map(_.matched).getOrElse("")
        val name = m.group(2)
        val owners = (pkg +: stack.toSeq.reverse.flatMap(_.template)).filter(_.nonEmpty)
        val member = Set("def", "val", "var")(m.group(1)) && inPublicTemplate &&
          Hidden.findFirstIn(mods).isEmpty && Exempt.findFirstIn(mods).isEmpty &&
          !SyntaxNames(name)
        out += Site(path, m.start(2), lineOf(m.start(2)), (owners :+ name).mkString("."), name, member)
      }
      src(i) match {
        case '(' | '[' => parens += 1
        case ')' | ']' => parens -= 1
        case '{' =>
          val t = templateOf(src, i)
          val enclosingPublic = stack.headOption.forall(_.public)
          stack.push(Open(t.map(_._1), enclosingPublic && t.forall(_._2), parens))
        case '}' => if (stack.nonEmpty) stack.pop()
        case _ =>
      }
    }
    out.result()
  }

  lazy val mainCode: Seq[(Path, String)] =
    sources("src/main/scala").map { case (p, t) => p -> code(t) }
  lazy val defs: Seq[Site] = mainCode.flatMap { case (p, t) => sites(p, t) }

  /** Every public member that no code in `src/main` names. */
  lazy val unreached: Seq[Site] = {
    val defAt = defs.map(s => (s.file, s.offset)).toSet
    val used = mutable.Set[String]()
    mainCode.foreach { case (p, t) =>
      val body = Import.replaceAllIn(t, m => " " * m.matched.length)
      Ident.findAllMatchIn(body).foreach { m =>
        if (!defAt((p, m.start))) used += m.matched
      }
    }
    defs.filter(s => s.member && !used(s.name))
  }
}
