package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Degenerate IVF input: an embeddings table with no vec_id below the
  * centroid sample (16) trains NO centroids. Every vector must then go
  * unassigned — q_sim_ivf and q_semdedup come back empty, as the DuckDB
  * oracle does — never labelled with the argmax fold's seed cid
  * Long.MinValue.
  */
class IvfNoCentroidSpec extends SparkSpec with OracleCompare {

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
    writeTable((16L to 515L).map(id => (id, vecs((id % 60).toInt), (id % 3).toInt))
      .toDF("vec_id", "embedding", "label"), dir, "embeddings")
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
    assertMatchesOracle(sfDir, names, run, SimilarityQueries.oracles)
  }
}
