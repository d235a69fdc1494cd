package graft

import org.apache.spark.sql.functions.{col, struct, xxhash64}

/** The timed action ([[Fold]]): every caller — Bench, Sentinel, the
  * probes — reads its row count and xor from here, so the edges a
  * hand-copied fold got wrong are pinned once.
  */
class FoldSpec extends SparkSpec {
  import spark.implicits._

  test("two identical rows: the xor cancels, the count does not") {
    assert(Fold.digest(Seq((1L, "a"), (1L, "a")).toDF("k", "v")) === ((2L, 0L)))
  }

  test("an empty frame folds to (0, 0) without throwing") {
    assert(Fold.digest(Seq.empty[(Long, String)].toDF("k", "v")) === ((0L, 0L)))
    assert(Fold.digest(spark.range(10).toDF().filter(col("id") < 0)) === ((0L, 0L)))
  }

  test("the xor is xxhash64 over each row's struct, the bench's action") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("k", "v")
    val want = df.select(xxhash64(struct(col("k"), col("v")))).as[Long]
      .collect().reduce(_ ^ _)
    assert(Fold.digest(df) === ((3L, want)))
  }

  test("a map column folds through the to_json fallback") {
    val df = Seq(Map("a" -> 1), Map("b" -> 2), Map("a" -> 1, "b" -> 2)).toDF("m")
    val (n, x) = Fold.digest(df)
    assert(n === 3L)
    // the values are hashed, not just counted: changing one map changes x
    val other = Seq(Map("a" -> 1), Map("b" -> 3), Map("a" -> 1, "b" -> 2)).toDF("m")
    assert(Fold.digest(other)._2 !== x)
  }

  test("duplicate and dotted column names fold") {
    val plain = Seq((1L, 2L, 3L), (4L, 5L, 6L)).toDF("a", "b", "c")
    val awkward = plain.toDF("x", "x", "a.b")
    assert(Fold.digest(awkward) === Fold.digest(plain))
    assert(Fold.digest(awkward)._1 === 2L)
  }
}
