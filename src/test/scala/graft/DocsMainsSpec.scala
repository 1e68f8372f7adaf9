package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The docs that tell an operator what to run name only mains that exist:
  * every `graft.<Name>` and `graft.tools.<Name>` in them loads. Historical
  * records (BASELINE.md, VERDICT.md, OPTIMIZATION_r06.md) are not checked. */
class DocsMainsSpec extends AnyFunSuite {

  test("README and the verify recipe name only mains that exist") {
    val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
    val named = docs.flatMap { d =>
      val text = new String(Files.readAllBytes(Paths.get(d)), java.nio.charset.StandardCharsets.UTF_8)
      """\bgraft\.(tools\.)?[A-Z]\w*""".r.findAllIn(text).map(d -> _).toSeq
    }.distinct
    assert(named.map(_._2).distinct.size >= 5, s"only ${named.size} mains named — vacuous: $named")
    val missing = named.filterNot { case (_, n) => scala.util.Try(Class.forName(n)).isSuccess }
    assert(missing.isEmpty, s"docs name mains that do not exist: ${missing.mkString("; ")}")
  }
}
