package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The filter–verify kernel every 3-shingle-set near-duplicate detector
  * runs on (n-gram Jaccard, MinHash LSH, containment, the threshold
  * sweep and the agreement audit over them). Each detector supplies only
  * its candidate generator and its predicate; the set format, the
  * identical-set collapse, the prefix filter, the exact verify and the
  * member re-expansion are decided here once.
  *
  * The pipeline is `base` → `reps` → (`postings` → `prefixes` → the
  * caller's candidate join) → `verify` → the caller's predicate →
  * `expand`. Candidates are lossless for the caller's threshold and the
  * verify is exact, so every detector's output equals the all-pairs
  * answer its DuckDB oracle computes.
  */
object ShingleSets {

  /** The shingle SET frame `(doc_id, sarr, n_shingles, set_hash)`: the
    * distinct 3-token shingles of each document, docs under 3 tokens
    * dropped. The set_hash is collision-free (newline delimiter: tokens
    * come from a \s+ split, so no shingle can contain it). Not persisted
    * here: the caller decides (q_dedup_agreement shares one eagerly
    * persisted base across its ngram and minhash generators).
    *
    * Recorded negative (round 13): a fused sort+md5 set-hash expression
    * is not worth it. Decomposed at 100x warm, the shingle pass itself is
    * 0.75 s while sort_array adds ~0.2 s and concat_ws+md5 ~0.1 s; the
    * layers a fusion would eliminate are <3% of the detector that
    * consumes them.
    */
  def base(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    .filter(size(col("tk")) >= 3)
    .withColumn("sarr", graft.functions.ShinglesExpr.shingles(col("tk")))
    .select(col("doc_id"), col("sarr"), size(col("sarr")).as("n_shingles"),
      md5(concat_ws("\n", sort_array(col("sarr")))).as("set_hash"))

  /** One representative per distinct shingle set,
    * `(doc_id, sarr, n_shingles, set_hash, g)`: doc_id is the smallest
    * member's, the array is that member's, and g is the group size.
    *
    * Why collapse: dedup corpora are duplicate-heavy by definition, and
    * k exact copies of a doc multiply every posting list and band bucket
    * by k and the candidate join by k² (containment measured 162 s vs
    * 13 s on the ×10 twin corpus; the ngram collapse cuts the 10x probe
    * corpus from 50k docs back to ~5k distinct sets). Lossless: a
    * within-group pair has similarity exactly 1, and a cross-group rep
    * pair's values hold for every member pair, which [[expand]] restores.
    *
    * A min/min_by aggregate, not a row_number window (round 13): the
    * window shuffles every member's sarr and sorts each set_hash
    * partition to keep row 1; partial aggregation ships at most one sarr
    * per distinct set per map partition and drops the sort (100x, cached
    * base: 1.05 -> 0.87 s). min_by keyed on the unique doc_id picks the
    * member rn=1 kept, and g rides the same aggregate instead of a
    * second window. Callers that never read a column get it pruned.
    *
    * One canonical tree for every caller: q_dedup_agreement's two
    * detectors then plan byte-identical subtrees over the shared base
    * and the exchange is reused (optimization r15). Not persisted here
    * (recorded negative, r15): caching the sarr-fat frame cost more than
    * the re-aggregation it saved (q_dedup_agreement execSum 80 -> 125 s).
    */
  def reps(base: DataFrame): DataFrame = base
    .groupBy(col("set_hash"))
    .agg(min(col("doc_id")).as("doc_id"),
      min_by(col("sarr"), col("doc_id")).as("sarr"),
      min_by(col("n_shingles"), col("doc_id")).as("n_shingles"),
      count(lit(1)).as("g"))
    .select(col("doc_id"), col("sarr"), col("n_shingles"), col("set_hash"), col("g"))

  /** The representatives' posting rows `(doc_id, n_shingles, shingle)`,
    * one per shingle. Callers that read them twice persist them.
    */
  def postings(reps: DataFrame): DataFrame =
    reps.select(col("doc_id"), col("n_shingles"), explode(col("sarr")).as("shingle"))

  /** The AllPairs/PPJoin prefix filter (Bayardo et al. 2007) at threshold
    * t = num/den, `(doc_id, shingle, n_shingles)`: under the global
    * rarity order (document frequency, ties by value) each set keeps its
    * first n - ceil(t·n) + 1 shingles. A pair with Jaccard >= t shares a
    * shingle within both prefixes, and a pair whose overlap reaches t of
    * the smaller set shares one within the smaller side's prefix, so a
    * join on prefix shingles loses no qualifying pair. The cut is
    * integer-exact (div, not floating point): rounding at a prefix
    * boundary could silently drop a pair. Rarest-first keeps candidate
    * volume linear when common shingles sit in hundreds of docs (the
    * unfiltered join measured quadratic: 525 s at 50k docs vs ~20 s).
    */
  def prefixes(postings: DataFrame, num: Int, den: Int): DataFrame = {
    val docFreq = postings.groupBy("shingle").agg(count(lit(1)).as("df"))
    postings
      .join(docFreq, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))))
      .filter(col("rk") <= col("n_shingles")
        - expr(s"(n_shingles * $num + ${den - 1}) div $den") + 1)
      .select(col("doc_id"), col("shingle"), col("n_shingles"))
  }

  /** Exact overlap of candidate representative pairs. `cand` carries
    * `doc_a`/`doc_b` (rep doc ids from [[reps]]) and any extra columns,
    * which ride through; the result adds `(ha, hb, common, na, nb, ga,
    * gb)`: each side's set_hash, the shared shingle count, the set
    * sizes and the group sizes. The caller applies its own predicate.
    *
    * Both arrays are fetched by rep id and intersected in-row, one
    * `array_intersect` per candidate: a posting-list self-join plus a
    * counting shuffle measured 4x the stage cost at sf0.1 for identical
    * rows. Fetch-by-id rather than carrying sarr through the candidate
    * join: with neither join side broadcast, carrying the arrays through
    * MinHash's 4-band self-join shuffles ~8x |reps|·sarr bytes against
    * ~3x here (the incremental path's payload-carrying band join wins
    * only because its batch side broadcasts). q_dedup_agreement unions
    * both detectors' candidates and verifies them in one pass of this
    * (optimization r16).
    */
  def verify(cand: DataFrame, reps: DataFrame): DataFrame = {
    def side(s: String) = reps.select(col("doc_id").as(s"doc_$s"),
      col("sarr").as(s"s$s"), col("n_shingles").as(s"n$s"),
      col("set_hash").as(s"h$s"), col("g").as(s"g$s"))
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .drop("sa", "sb")
  }

  /** Jaccard of a [[verify]]d pair. */
  val jaccard: Column =
    col("common").cast("double") / (col("na") + col("nb") - col("common"))

  /** Member pairs `(doc_a, doc_b, values…)` from verified rep-pair
    * `blocks` `(ha, hb, values…)`: every within-group pair of each
    * shingle set, valued by `within` (which may read the set's
    * `n_shingles`), plus every member pair across each block. Unordered.
    */
  def expand(base: DataFrame, blocks: DataFrame, within: Column*): DataFrame = {
    val members = base.select(col("set_hash"), col("doc_id"), col("n_shingles"))
    val inGroup = members.as("x")
      .join(members.as("y"),
        col("x.set_hash") === col("y.set_hash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_shingles").as("n_shingles"))
      .select(col("doc_a") +: col("doc_b") +: within: _*)
    val values = blocks.columns.filterNot(Set("ha", "hb")).map(col).toSeq
    val crossGroup = blocks
      .join(members.as("ma"), col("ma.set_hash") === col("ha"))
      .join(members.as("mb"), col("mb.set_hash") === col("hb"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("doc_a") +:
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("doc_b") +: values: _*)
    inGroup.unionByName(crossGroup)
  }
}
