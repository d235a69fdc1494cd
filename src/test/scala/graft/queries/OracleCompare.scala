package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Compares query results with their DuckDB oracles through
  * `scripts/oracle_check.py`, the checker the full Verify dump goes
  * through. A compare is cancelled, not failed, where python3 with
  * duckdb is missing.
  */
trait OracleCompare { this: AnyFunSuite =>

  /** Writes `df` as the single file `<dir>/<name>.parquet`: the checker
    * reads each input table from exactly that path.
    */
  def writeTable(df: DataFrame, dir: Path, name: String): Unit = {
    val staged = Files.createTempDirectory("staged").resolve(name)
    df.coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  /** Runs each named query over the tables in `tablesDir` (built right
    * before its write, so one query's persisted intermediates are not
    * drained by the next one's build) and asserts that every result
    * equals its oracle's.
    */
  def assertMatchesOracle(tablesDir: Path, names: Seq[String],
      run: String => DataFrame, oracles: Map[String, String]): Unit = {
    val hasDuckdb = scala.util.Try(new ProcessBuilder("python3", "-c", "import duckdb")
      .start().waitFor() == 0).getOrElse(false)
    assume(hasDuckdb, "python3 with duckdb is needed for the oracle compare")
    val out = Files.createTempDirectory("oracle-compare")
    names.foreach(n => run(n).coalesce(1).write.parquet(out.resolve(n).toString))
    Files.writeString(out.resolve("oracle_sql.json"),
      new ObjectMapper().writeValueAsString(names.map(n => n -> oracles(n)).toMap.asJava))
    val p = new ProcessBuilder(
      (Seq("python3", "scripts/oracle_check.py", tablesDir.toString, out.toString) ++ names): _*)
      .redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, log)
  }
}
