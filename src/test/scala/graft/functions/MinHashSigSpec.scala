package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the native [[MinHashSigExpr]] to the declarative chain it
  * replaced in IncrementalDedupQueries.signatures: per-shingle
  * md5→conv→% p hashing plus K separate `array_min(transform(...))`
  * permutation passes — identical K-vector per document.
  */
class MinHashSigSpec extends SparkSpec {

  import graft.ops.MinHashLsh.{P, K, as, bs}

  private val minCols = (0 until K).map { i =>
    expr(s"array_min(transform(xmarr, x -> (${as(i)} * x + ${bs(i)}) % $P))")
  }

  test("native signature == declarative md5 + K permutation passes") {
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .withColumn("sarr", ShinglesExpr.shingles(col("tk")))
      .persist()
    val want = base
      .withColumn("xmarr", expr(
        s"transform(sarr, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % $P)"))
      .select(col("doc_id"), array(minCols: _*).as("want"))
    val got = base.select(col("doc_id"),
      MinHashSigExpr.sig(col("sarr"), as, bs, P).as("got"))
    val diff = got.join(want, "doc_id")
      .filter(not(col("got") === col("want")))
    assert(diff.count() == 0)
    assert(got.head().getSeq[Long](1).size == K)
    base.unpersist()
  }

  test("property: native == declarative passes on generated token arrays") {
    import spark.implicits._
    // GenSoup discipline (round 13): arrays with empty-string tokens and
    // heavy duplicates — duplicate shingles must not move any minimum
    val arrays = GenSoup.sample(GenSoup.tokenArrayGen, seedBase = 0x4242)
      .filter(_.size >= 3).zipWithIndex
    assert(arrays.nonEmpty)
    val base = arrays.map { case (a, i) => (i.toLong, a) }.toDF("id", "tk")
      .withColumn("sarr", ShinglesExpr.shingles(col("tk")))
    val want = base
      .withColumn("xmarr", expr(
        s"transform(sarr, s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % $P)"))
      .select(col("id"), array(minCols: _*).as("want"))
    val got = base.select(col("id"),
      MinHashSigExpr.sig(col("sarr"), as, bs, P).as("got"))
    assert(got.join(want, "id")
      .filter(not(col("got") === col("want"))).count() == 0)
  }
}
