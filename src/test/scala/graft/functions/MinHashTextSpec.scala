package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.MinHashLsh.{as, bs, P}

/** Pins [[MinHashTextExpr]] (fused tokenize+shingle+hash+min-fold walk)
  * to the unfused chain it shadows —
  * `MinHashSigExpr.sig(ShinglesExpr.shingles(split(trim(text), "\\s+")))`
  * — per document on real corpus text, and on the whitespace/unicode/
  * repetition edges. The <3-token documents the unfused pipeline's
  * `size(tk) >= 3` filter drops must come back NULL (the isNotNull
  * contract signature-only consumers filter on).
  */
class MinHashTextSpec extends SparkSpec {

  import spark.implicits._

  private val unfused =
    MinHashSigExpr.sig(
      ShinglesExpr.shingles(split(trim(col("text")), "\\s+")), as, bs, P)

  private def diffOn(d: org.apache.spark.sql.DataFrame): Long = d
    // apply the unfused chain only where it is defined (>= 3 tokens;
    // ShinglesExpr's contract) — elsewhere the fused form must be NULL
    .select(
      MinHashTextExpr.sig(col("text"), as, bs, P).as("fused"),
      when(size(split(trim(col("text")), "\\s+")) >= 3, unfused).as("split_form"))
    .filter(!(col("fused") <=> col("split_form")))
    .count()

  test("fused == unfused chain per document on the sf0.001 corpus") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("text"))
    assert(diffOn(d) == 0)
    assert(d.count() > 0)
  }

  test("whitespace/unicode/repetition/short-doc edges") {
    val d = Seq(
      "one two three",
      "one two three four five",
      "  leading and trailing padding  ",
      "\ttabs\nnewlines\r mixed vt ff end", // all 6 \s bytes
      "héllo wörld ≠ ascii tokens",                     // multibyte tokens
      "a a a a a",                     // repeated token → duplicate shingles
      "x y x y x y",                   // period-2 repetition
      "",                              // no tokens -> NULL
      " \t\n ",                        // whitespace only -> NULL
      "one",                           // 1 token -> NULL
      "one two",                       // 2 tokens -> NULL (no 3-shingle)
      // split's empty-token quirks (trim strips 0x20 only; Spark split
      // keeps trailing empty fields): "" tokens count toward size(tk)
      // and ride in the boundary shingles
      "\tlead tab",                    // tk ["", lead, tab] -> defined
      "\tsolo",                        // tk ["", solo] -> NULL
      "one two\t",                     // tk [one, two, ""] -> defined
      "one two\t ",                    // trailing spaces stripped, then \t -> same
      "a\n",                           // tk [a, ""] -> NULL
      "\tmid\n",                       // tk ["", mid, ""] -> defined (both empties)
      "\t \n",                         // all-separator: tk ["", ""] -> NULL
      "日本語 テキスト 処理 の 検証"     // fully multibyte
    ).toDF("text")
    assert(diffOn(d) == 0)
    val nulls = d.select(MinHashTextExpr.sig(col("text"), as, bs, P).as("m"))
      .filter(col("m").isNull).count()
    assert(nulls == 7)
  }

  test("property: fused == unfused on arbitrary whitespace/unicode soup") {
    // the law that caught the trailing-empty-token divergence the corpus
    // pin and the oracle gate both missed (39/48 generated texts)
    assert(diffOn(GenSoup.sample(GenSoup.textGen).toDF("text")) == 0)
  }

  test("two instances in one codegen scope compile (fresh local names)") {
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val d = Seq("alpha beta gamma delta").toDF("text")
      val r = d.select(
          MinHashTextExpr.sig(col("text"), as, bs, P).as("m1"),
          MinHashTextExpr.sig(col("text"), as, bs, P).as("m2"))
        .filter(col("m1") === col("m2"))
        .count()
      assert(r == 1)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
