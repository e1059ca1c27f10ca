package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `tools/<file>` path and every `graft.<Main>` that the docs
  * (README, SCALE, ROADMAP) and the `src/main` sources cite must exist,
  * so a doc cannot keep citing a deleted tool or probe main. */
class DocRefsSpec extends AnyFunSuite {
  private val docs = Seq("README.md", "SCALE.md", "ROADMAP.md").map(Paths.get(_))

  private def scalaFiles(root: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  private val cited = (docs ++ scalaFiles("src/main/scala")).map(p => p -> Files.readString(p))

  private def refs(pattern: String): Seq[(Path, String)] =
    for ((p, text) <- cited; m <- pattern.r.findAllMatchIn(text).toSeq)
      yield p -> m.group(1).stripSuffix(".")

  /** Top-level types of package `graft`, in main and test sources. */
  private val graftTypes: Set[String] =
    (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")).flatMap { p =>
      val text = Files.readString(p)
      if (!text.linesIterator.exists(_.trim == "package graft")) Nil
      else """(?m)^(?:object|class|trait) ([A-Z]\w*)""".r.findAllMatchIn(text).map(_.group(1))
    }.toSet

  test("every cited tools/<file> exists") {
    val found = refs("""tools/([\w.-]+)""")
    assert(found.exists(_._2 == "compare.py"), "the pattern no longer finds the README's tools/compare.py")
    val missing = found.filterNot { case (_, f) =>
      Files.isRegularFile(Paths.get("tools", f))
    }
    assert(missing.isEmpty, s"docs cite missing tools: ${missing.mkString(", ")}")
  }

  test("every cited graft.<Main> exists") {
    val found = refs("""\bgraft\.([A-Z]\w*)""")
    assert(found.exists(_._2 == "Verify"), "the pattern no longer finds the README's graft.Verify")
    val missing = found.filterNot { case (_, t) => graftTypes(t) }
    assert(missing.isEmpty, s"docs cite missing graft mains: ${missing.mkString(", ")}")
  }
}
