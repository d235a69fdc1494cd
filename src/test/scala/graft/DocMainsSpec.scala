package graft

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Doc drift: every `runMain graft.X` / `run_main.sh graft.X` the README,
  * the verify skill and the scaladoc under `src/main/scala` tell a reader
  * to run names an object with a `main`, so a deleted or renamed main
  * cannot stay documented.
  */
class DocMainsSpec extends AnyFunSuite {
  private val sources: Seq[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try files.iterator().asScala.map(_.toString).filter(_.endsWith(".scala")).toList.sorted
    finally files.close()
  }
  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md") ++ sources
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
    // the scaladoc usage lines are scanned too
    assert(refs.exists { case (d, cls) => d.endsWith("Sentinel.scala") && cls == "graft.Sentinel" })
    val missing = refs.filterNot { case (_, cls) => hasMain(cls) }
    assert(missing.isEmpty, s"documented mains with no main method: $missing")
  }

  test("the check rejects a missing class and an object without main") {
    assert(!hasMain("graft.NoSuchMain"))
    assert(!hasMain("graft.Tables"))
    assert(hasMain("graft.Sentinel"))
  }
}
