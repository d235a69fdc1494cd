package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The banded-Hamming near-duplicate family: every detector whose
  * signature is one packed `long` and whose pairs are the signatures
  * within Hamming distance `maxDistance` (SimHash in
  * [[graft.queries.SketchDedupQueries]], the media aHash in
  * [[graft.queries.MultimodalQueries]]). Each caller supplies its layout
  * and its `(doc_id, sig)` rows; the collapse, the candidate step, the
  * verify and the member expansion are decided here once.
  *
  * The signature splits into `bands` words of `bits` bits. With
  * `maxDistance < bands`, a pair within the distance leaves at least one
  * word untouched (Manku et al. 2007's pigeonhole), so grouping by
  * `(band, word)` loses no qualifying pair and the verify is exact: every
  * detector's output equals the all-pairs answer its DuckDB oracle
  * computes.
  *
  * The pipeline is `reps` → `repPairs` → `expand`, or [[pairs]] for all
  * three.
  */
final case class HammingBands(bands: Int, bits: Int, maxDistance: Int) {
  require(bands * bits <= 64 && maxDistance < bands,
    s"$bands bands of $bits bits cannot find every pair within $maxDistance")

  private val mask = (1L << bits) - 1

  /** Band `b`'s word of a packed signature, shifted unsigned and masked:
    * a 64-bit signature with bit 63 set is a negative long, and its words
    * are still its plain bits (a `%` in place of the mask would give it a
    * negative top word).
    */
  def word(sig: Column, b: Int): Column =
    shiftrightunsigned(sig, bits * b).bitwiseAND(lit(mask))

  /** One representative per distinct signature, `(sig, rep, g)`: rep is
    * the smallest member doc_id and g the group size. Members of a group
    * share every band word and sit at distance 0, so the candidate step
    * runs on representatives and [[expand]] restores the members; k exact
    * copies then no longer multiply a band bucket by k and its pairs by
    * k² (simhash at 100×: 268 s uncollapsed under the broadcast plan).
    */
  def reps(sigs: DataFrame): DataFrame = sigs
    .groupBy(col("sig"))
    .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("g"))

  /** The representative pairs within `maxDistance`, `(ha, hb, ra, rb,
    * hamming)` with `ra < rb`, from [[reps]] rows.
    *
    * One aggregate per `(band, word)` bucket, then every pair of each
    * bucket's list in-row, not a band self-join: the two sides of that
    * join are two shuffle stages of one aggregate, and AQE broadcasts
    * whichever finishes first, so identical code would run either plan.
    * A pair sharing several bands is kept from its lowest shared band
    * only, so no distinct follows.
    */
  def repPairs(reps: DataFrame): DataFrame = {
    val bandRows = reps.select(col("rep"), col("sig"),
      posexplode(array((0 until bands).map(b => word(col("sig"), b)): _*))
        .as(Seq("band", "bv")))
    val x = col("ha").bitwiseXOR(col("hb"))
    val lowestShared = (0 until bands)
      .map(b => lit(b) >= col("band") || word(x, b) =!= 0L)
      .reduce(_ && _)
    bandRows
      .groupBy(col("band"), col("bv"))
      .agg(collect_list(struct(col("rep"), col("sig"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(col("band"), col("ms"), explode(col("ms")).as("a"))
      .select(col("band"), col("a"), explode(col("ms")).as("b"))
      .filter(col("a.rep") < col("b.rep"))
      .select(col("band"), col("a.sig").as("ha"), col("b.sig").as("hb"),
        col("a.rep").as("ra"), col("b.rep").as("rb"))
      .filter(bit_count(x) <= maxDistance && lowestShared)
      .select(col("ha"), col("hb"), col("ra"), col("rb"), bit_count(x).as("hamming"))
  }

  /** Member pairs `(doc_a, doc_b, hamming)`, `doc_a < doc_b`, from the
    * `(doc_id, sig)` rows and their [[repPairs]]: every within-group pair
    * at distance 0, plus every member pair across each representative
    * pair at that pair's distance. Unordered.
    */
  def expand(sigs: DataFrame, repPairs: DataFrame): DataFrame = {
    val within = sigs.as("x")
      .join(sigs.as("y"), col("x.sig") === col("y.sig") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"), lit(0).as("hamming"))
    val cross = repPairs
      .join(sigs.select(col("sig").as("ha"), col("doc_id").as("ida")), "ha")
      .join(sigs.select(col("sig").as("hb"), col("doc_id").as("idb")), "hb")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Every pair of `(doc_id, sig)` rows within `maxDistance`,
    * `(doc_a, doc_b, hamming)`. The caller persists `sigs`: it is read
    * by the collapse and by both sides of the expansion.
    */
  def pairs(sigs: DataFrame): DataFrame = expand(sigs, repPairs(reps(sigs)))
}
