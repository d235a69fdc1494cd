package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.documents

/** The incremental verify join broadcasts the batch side WITH its
  * verify payload — sound only under the "daily batch" contract. This
  * spec makes the contract structural: a batch whose payload-carrying
  * band rows estimate past the ceiling fails fast with a pointer to the
  * whole-corpus path (instead of OOMing the driver mid-broadcast), and a
  * normal daily shape passes the DEFAULT ceiling with wide margin.
  */
class IncrementalDedupGuardSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val prop = "graft.inc.broadcast.max.bytes"

  test("a batch past the broadcast ceiling fails fast with the fix") {
    val docs = documents(spark, sf)
    val sigs = IncrementalDedupQueries.signatures(docs)
    sys.props(prop) = "1"
    try {
      val e = intercept[IllegalStateException] {
        IncrementalDedupQueries.pairsForBatchSigs(sigs, sigs)
      }
      assert(e.getMessage.contains("SketchDedupQueries"))
      assert(e.getMessage.contains(prop))
    } finally sys.props.remove(prop)
  }

  test("the sf0.001 daily shape passes the DEFAULT ceiling with margin") {
    // same construction as the gated q_dedup_incremental: standing index
    // on disk, one day's batch of signatures
    val docs = documents(spark, sf)
    val batchSigs = IncrementalDedupQueries
      .signatures(docs.filter(col("doc_id") % 5 === 4))
    // the guard path itself must not throw on the daily shape
    val pairs = IncrementalDedupQueries.pairsForBatchSigs(
      IncrementalDedupQueries.signatures(docs), batchSigs)
    assert(pairs.columns.toSeq ==
      Seq("doc_a", "doc_b", "minhash_est", "jaccard"))
    pairs.count() // executes the broadcast for real
  }
}
