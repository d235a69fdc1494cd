package graft.queries

import java.nio.file.{Files, Path}

import graft.{SparkEntry, SparkSpec}

/** The shingle-set detectors, and the MinHash family's other consumers
  * (the incremental index, the streaming gate, source similarity), on
  * degenerate corpora: nothing shared, nothing long enough to shingle,
  * and nothing but exact copies. Every
  * query must run, the sweep must still emit its five threshold rows,
  * and each result must equal its DuckDB oracle's (the agreement audit's
  * ratios are NULL where a pair count is 0, as the oracle's integer
  * division gives).
  */
class ShingleSetDegenerateSpec extends SparkSpec with OracleCompare {

  private val corpora: Seq[(String, Seq[String])] = Seq(
    "no shared shingles" -> (1 to 5).map(i => s"a$i b$i c$i d$i e$i f$i"),
    "every doc under 3 tokens" ->
      Seq("alpha", "alpha beta", "alpha beta", "  gamma  delta ", "", "delta"),
    "exact copies of one text" ->
      Seq.fill(5)("the quick brown fox jumps over the lazy dog"))

  private val names = Seq("q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
    "q_dedup_containment", "q_dedup_threshold_sweep", "q_dedup_agreement",
    "q_dedup_incremental", "q_stream_neardedup", "q_source_similarity")

  /** One `documents.parquet` per corpus, in the driver's column layout. */
  private def corpusDir(texts: Seq[String]): Path = {
    import spark.implicits._
    val dir = Files.createTempDirectory("shingle-degenerate")
    writeTable(texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 2}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    dir
  }

  private lazy val dirs: Map[String, Path] =
    corpora.map { case (label, texts) => label -> corpusDir(texts) }.toMap

  private def run(dir: Path)(name: String) =
    SparkEntry.queries(name)(spark, dir.toString)

  corpora.foreach { case (label, _) =>
    test(s"$label: every detector runs, and the sweep emits five rows") {
      names.foreach { n =>
        val rows = run(dirs(label))(n).collect()
        if (n == "q_dedup_threshold_sweep")
          assert(rows.map(_.getInt(0)).toSeq == Seq(50, 60, 70, 80, 90), rows.mkString)
      }
    }

    test(s"$label: every detector matches the DuckDB oracle") {
      assertMatchesOracle(dirs(label), names, run(dirs(label)), SparkEntry.oracleSql)
    }
  }
}
