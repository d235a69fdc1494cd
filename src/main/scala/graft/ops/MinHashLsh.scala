package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{MinHashSigExpr, MinHashTextExpr}

/** The MinHash-LSH family every MinHash consumer shares: the
  * whole-corpus detector, the source-similarity sketches and the
  * agreement audit ([[graft.queries.SketchDedupQueries]]), the persisted
  * incremental index ([[graft.queries.IncrementalDedupQueries]]) and the
  * streaming near-dedup gate ([[graft.queries.StreamingQueries]]).
  *
  * An incremental batch's pairs equal the whole-corpus pairs restricted
  * to the batch only while all of them hash, band and estimate the same
  * way, so each of those decisions is made here once. The arithmetic is
  * portable (md5 → 60-bit int64, multiply-mod a 1e9+7 prime), so the
  * DuckDB oracles replay it bit for bit from the same constants.
  */
object MinHashLsh {

  /** The permutation modulus, a prime. */
  val P: Long = 1000000007L

  /** Signature length: one minimum per permutation. */
  val K: Int = 16

  /** The LSH layout: `Bands` bands of `Rows` signature positions each. */
  val Bands: Int = 4
  val Rows: Int = K / Bands

  /** Permutation i is `(as(i) · x + bs(i)) % P` over a shingle's hash x. */
  val as: Seq[Long] = (1 to K).map(i => (123456789L * i + 987654321L) % P)
  val bs: Seq[Long] = (1 to K).map(i => (362436069L * i + 521288629L) % P)

  /** The K minima of a shingle array, in one compiled pass. */
  def sig(sarr: Column): Column = MinHashSigExpr.sig(sarr, as, bs, P)

  /** The same K minima straight from raw text (one fused tokenize,
    * shingle, hash and min walk), NULL under 3 tokens: bit-identical to
    * [[sig]] over [[ShingleSets.base]]'s arrays (MinHashTextSpec), for
    * consumers that never read the shingle array. A/B at 100x (SURVEY
    * §10.19, min of 4 runs): 1.42 → 1.21 s for the signature pass.
    */
  def textSig(text: Column): Column = MinHashTextExpr.sig(text, as, bs, P)

  /** Band b's key: the md5 of its `Rows` minima, comma-joined. */
  private def bandKey(m: Column, b: Int): Column =
    md5(concat_ws(",", (0 until Rows).map(r => element_at(m, Rows * b + r + 1)): _*))

  /** One row per (signature row, band) — `(keep…, band, bh)` — from a
    * frame with the signature in `m`; `keep` names the columns each band
    * row carries.
    */
  def bands(sigs: DataFrame, keep: String*): DataFrame = {
    val bandStructs = (0 until Bands).map(b =>
      struct(lit(b).as("band"), bandKey(col("m"), b).as("bh")))
    val kept = keep.map(col)
    sigs.select(kept :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(kept ++ Seq(col("bb.band").as("band"), col("bb.bh").as("bh")): _*)
  }

  /** The agreement estimate of two signatures: the share of the K
    * positions whose minima are equal. Per-position `when`s, so the sum
    * compiles (a `zip_with` fold would run interpreted).
    */
  def estimate(ma: Column, mb: Column): Column =
    (0 until K)
      .map(i => when(element_at(ma, i + 1) === element_at(mb, i + 1), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K
}
