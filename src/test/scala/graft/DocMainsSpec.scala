package graft

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Doc drift: every `runMain graft.X` / `run_main.sh graft.X` the README
  * and the verify skill tell a reader to run names an object with a
  * `main`, so a deleted or renamed main cannot stay documented.
  */
class DocMainsSpec extends AnyFunSuite {
  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val MainRef = """(?:runMain|run_main\.sh)\s+(graft(?:\.\w+)+)""".r

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.mkString finally src.close()
  }

  private def hasMain(cls: String): Boolean =
    Try(Class.forName(cls).getMethod("main", classOf[Array[String]])).isSuccess

  test("every main the docs run exists") {
    val refs = docs.flatMap(d => MainRef.findAllMatchIn(read(d)).map(m => d -> m.group(1)))
    assert(refs.map(_._2).toSet.contains("graft.Bench"))
    val missing = refs.filterNot { case (_, cls) => hasMain(cls) }
    assert(missing.isEmpty, s"documented mains with no main method: $missing")
  }

  test("the check rejects a missing class and an object without main") {
    assert(!hasMain("graft.NoSuchMain"))
    assert(!hasMain("graft.Tables"))
    assert(hasMain("graft.Sentinel"))
  }
}
