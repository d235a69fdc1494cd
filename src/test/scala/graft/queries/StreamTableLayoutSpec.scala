package graft.queries

import java.nio.file.Files

import graft.{Fold, ProbeCorpus, SparkSpec}

/** The streaming sources address a table the way the batch reads do: a
  * Spark-written directory table (the `ProbeCorpus` layout Bench and the
  * Sentinel run on) streams the same rows as the flat one-file testdata,
  * and a table that matches no file fails instead of streaming nothing.
  * A drained stream leaves nothing behind in the session's catalog.
  */
class StreamTableLayoutSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("a directory-table corpus streams the same answer as the flat files") {
    val root = Files.createTempDirectory("stream-layout")
    val corpus = root.resolve("corpus").toString
    try {
      ProbeCorpus.build(spark, sf, corpus, copies = 1,
        onlyTables = Some(Set("documents", "events")))
      // one query per source helper: the events stream (footer schema
      // probe), the events stream beside a batch table read, the
      // documents stream, and the documents stream beside its static side
      for (q <- Seq("q_stream_hourly", "q_stream_heavy", "q_stream_neardedup",
          "q_stream_contam", "q_stream_countmin")) {
        val flat = Fold.digest(StreamingQueries.queries(q)(spark, sf))
        assert(flat._1 > 0, s"$q: no rows on the flat testdata")
        assert(Fold.digest(StreamingQueries.queries(q)(spark, corpus)) === flat, q)
      }
    } finally graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(root.toString))
  }

  test("a table that matches no file fails the query") {
    val empty = Files.createTempDirectory("stream-none")
    try {
      val err = intercept[IllegalArgumentException](
        StreamingQueries.queries("q_stream_neardedup")(spark, empty.toString))
      assert(err.getMessage.contains("documents.parquet"))
    } finally Files.delete(empty)
  }

  test("two drains of q_stream_hourly leave the catalog unchanged and read the same rows") {
    // the memory sink's view is dropped once the result frame is resolved
    def tables(): Set[String] = spark.catalog.listTables().collect().map(_.name).toSet
    val before = tables()
    val first = StreamingQueries.queries("q_stream_hourly")(spark, sf).collect().toSeq
    val second = StreamingQueries.queries("q_stream_hourly")(spark, sf).collect().toSeq
    assert(tables() == before)
    assert(first.nonEmpty)
    assert(second == first)
  }
}
