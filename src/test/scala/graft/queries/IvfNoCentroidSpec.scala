package graft.queries

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Degenerate IVF input: an embeddings table with no vec_id below the
  * centroid sample (16) trains NO centroids. Every vector must then go
  * unassigned — q_sim_ivf and q_semdedup come back empty, as the DuckDB
  * oracle does — never labelled with the argmax fold's seed cid
  * Long.MinValue.
  */
class IvfNoCentroidSpec extends SparkSpec {

  /** 500 embeddings, vec_id 16..515, as ONE parquet file (the oracle
    * checker reads `<dir>/embeddings.parquet` as a file). Vectors repeat
    * every 60 ids, so q_semdedup would report identical-vector drops for
    * anything that got assigned a list.
    */
  private lazy val sfDir: Path = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = Vector.fill(60)(Vector.fill(64)(rnd.nextGaussian().toFloat))
    val dir = Files.createTempDirectory("ivf-no-centroid")
    val staged = dir.resolve("staged")
    (16L to 515L).map(id => (id, vecs((id % 60).toInt), (id % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(staged.toString)
    val part = Files.list(staged).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve("embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  private val names = Seq("q_sim_ivf", "q_semdedup")

  private def run(name: String): DataFrame =
    SimilarityQueries.queries(name)(spark, sfDir.toString)

  test("no centroids: no vector gets the sentinel cid Long.MinValue") {
    val ivf = run("q_sim_ivf").collect()
    assert(!ivf.exists(_.getAs[Long]("list_id") == Long.MinValue))
    val sem = run("q_semdedup").collect()
    assert(!sem.exists(_.getAs[Long]("cid") == Long.MinValue))
    // nothing trained, so nothing is assigned to a list
    assert(ivf.isEmpty && sem.isEmpty,
      s"expected no rows, got ${ivf.length} ivf / ${sem.length} semdedup")
  }

  test("no centroids: q_sim_ivf and q_semdedup match the DuckDB oracle") {
    val hasDuckdb = scala.util.Try(new ProcessBuilder("python3", "-c", "import duckdb")
      .start().waitFor() == 0).getOrElse(false)
    assume(hasDuckdb, "python3 with duckdb is needed for the oracle compare")
    val out = Files.createTempDirectory("ivf-no-centroid-out")
    names.foreach(n => run(n).coalesce(1).write.parquet(out.resolve(n).toString))
    val oracles = names.map(n => n -> SimilarityQueries.oracles(n)).toMap.asJava
    Files.writeString(out.resolve("oracle_sql.json"),
      new ObjectMapper().writeValueAsString(oracles))
    val p = new ProcessBuilder(
      (Seq("python3", "scripts/oracle_check.py", sfDir.toString, out.toString) ++ names): _*)
      .redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, log)
  }
}
