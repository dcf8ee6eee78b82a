package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A scaladoc or comment in `src/main` that cites a spec or a
  * `graft.…` type must cite one that exists: a deleted spec or main
  * leaves a citation nobody can follow.
  */
class CitationSpec extends AnyFunSuite {

  private def sources(root: String): Seq[(Path, String)] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally walk.close()
  }

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
}
