package graft

import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

import ReachSpec.sources

/** A scaladoc or comment in `src/main` that cites a spec, a
  * `graft.…` type or a `[[link]]` must cite one that exists: a deleted
  * spec, main or member leaves a citation nobody can follow. And a
  * scaladoc must sit on the member it describes.
  */
class CitationSpec extends AnyFunSuite {

  private val Definition =
    """(?m)^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|sealed\s+|abstract\s+|case\s+|implicit\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val Package = """(?m)^package\s+([\w.]+)""".r

  /** `pkg.Name` of every top-level or nested type definition. */
  private def definitions(files: Seq[(Path, String)]): Set[String] =
    files.flatMap { case (_, text) =>
      val pkg = Package.findAllMatchIn(text).map(_.group(1)).mkString(".")
      Definition.findAllMatchIn(text).map(m => s"$pkg.${m.group(1)}")
    }.toSet

  private val main = sources("src/main/scala")
  private val test = sources("src/test/scala")

  /** (file:line, cited name) for every match of `cite` in src/main
    * whose `key` is not in `known`.
    */
  private def dangling(cite: scala.util.matching.Regex, key: String => Option[String],
                       known: Set[String]): Seq[String] =
    main.flatMap { case (path, text) =>
      text.linesIterator.zipWithIndex.flatMap { case (line, i) =>
        cite.findAllIn(line).filter(n => key(n).exists(k => !known(k)))
          .map(n => s"$path:${i + 1}: $n")
      }
    }

  test("every *Spec named in src/main is defined under src/test") {
    val specs = definitions(test ++ main).map(_.split('.').last)
    val bad = dangling("""\b[A-Z]\w*Spec\b""".r, Some(_), specs)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every graft.… type named in src/main exists in src/main") {
    // the qualified name up to its first capitalised segment is the
    // type (`graft.tools.LoopExp.main` -> `graft.tools.LoopExp`);
    // all-lowercase names are packages or property keys, not checked
    def typeOf(name: String): Option[String] = {
      val segs = name.split('.')
      val k = segs.indexWhere(_.head.isUpper)
      if (k < 0) None else Some(segs.take(k + 1).mkString("."))
    }
    val bad = dangling("""\bgraft(?:\.\w+)+""".r, typeOf, definitions(main))
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("every [[link]] in src/main starts at a type, a member of its file or an import") {
    // the head of `[[Similarity.lshTopK]]` is `Similarity`, of
    // `[[lshTopK]]` is `lshTopK`; `graft.…` paths are checked above
    val types = definitions(main).map(_.split('.').last)
    val Member = """\b(?:def|val|var|object|class|trait|type)\s+(\w+)""".r
    val Import = """(?m)^\s*import\s+([\w.]+?)(?:\.\{([^}]*)\})?\s*$""".r
    val Link = """\[\[(\w+)[^\]]*\]\]""".r
    val bad = main.flatMap { case (path, text) =>
      val imported = Import.findAllMatchIn(text).flatMap { m =>
        Option(m.group(2)).fold(Seq(m.group(1).split('.').last))(
          _.split(',').toSeq.map(_.split("=>").last.trim))
      }.toSet
      val known = types ++ Member.findAllMatchIn(text).map(_.group(1)) ++ imported
      text.linesIterator.zipWithIndex.flatMap { case (line, i) =>
        Link.findAllMatchIn(line).filter(m => m.group(1) != "graft" && !known(m.group(1)))
          .map(m => s"$path:${i + 1}: ${m.matched}")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("no scaladoc in src/main is stacked on another") {
    // a `/**` block that closes right above another one attaches to
    // nothing and never renders
    val bad = main.flatMap { case (path, text) =>
      text.linesIterator.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$path:${i + 1}"
      }
    }
    assert(bad.isEmpty, bad.mkString("\nscaladoc block closed right above another:\n", "\n", ""))
  }
}
