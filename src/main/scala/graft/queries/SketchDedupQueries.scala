package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ops.ShingleSets

/** Sketch-based near-dedup for training-data pipelines: MinHash + LSH
  * banding and SimHash, over the documents table.
  *
  * Both sketches use only portable integer arithmetic (md5 → hex → int64,
  * multiply-mod against a 1e9+7 prime, shifts/masks), so the DuckDB
  * oracle can reproduce them bit-for-bit — no engine-specific hash
  * function appears anywhere.
  *
  * Scale design: signatures are one narrow aggregation per document
  * (map-side partial min/sum, shuffle carries 16 longs per doc, not the
  * text); LSH banding turns pair generation into an equi-join on
  * (band, band_hash) — the only quadratic work is within a bucket, and
  * the verify stage recomputes exact Jaccard only for LSH candidates.
  */
object SketchDedupQueries {

  // shared with IncrementalDedupQueries — the incremental index stores
  // signatures under the SAME permutation family, so batch-vs-index pairs
  // are bit-identical to whole-corpus pairs
  private[graft] val P = 1000000007L
  private[graft] val K = 16          // minhash functions
  private[graft] val Bands = 4       // 4 bands x 4 rows
  private[graft] val as: Seq[Long] = (1 to K).map(i => (123456789L * i + 987654321L) % P)
  private[graft] val bs: Seq[Long] = (1 to K).map(i => (362436069L * i + 521288629L) % P)

  // ---------------------------------------------------------------- MinHash
  def qDedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(documents(spark, dir))

  /** Whole-corpus MinHash+LSH near-dup pairs over any documents frame —
    * the corpus-global form; [[IncrementalDedupQueries]] reproduces its
    * output restricted to batch-touching pairs without re-fingerprinting
    * the corpus. LSH candidates verified at jaccard >= 0.5 on the
    * [[graft.ops.ShingleSets]] kernel.
    */
  private[queries] def minhashPairs(docs: DataFrame): DataFrame = {
    val base = ShingleSets.base(docs).transform(graft.CacheScope.persist)
    val blocks = ShingleSets.verify(minhashCand(base), ShingleSets.reps(base))
      .select(col("ha"), col("hb"), col("minhash_est"), ShingleSets.jaccard.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
    ShingleSets.expand(base, blocks, lit(1.0).as("minhash_est"), lit(1.0).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The LSH-banded candidate pairs `(doc_a, doc_b, minhash_est)` over
    * [[graft.ops.ShingleSets.reps]] representatives (identical sets have
    * identical signatures, so the collapse is lossless here too) — the
    * detector's own generation stage, split from verification so the
    * agreement audit can verify a cross-detector candidate union once.
    */
  private[queries] def minhashCand(base: DataFrame): DataFrame = {
    val reps = ShingleSets.reps(base)
    // all K permutation minima per document in ONE compiled row-grain pass
    // (MinHashSigExpr — the same expression the incremental index uses, so
    // batch-vs-index pairs stay bit-identical) instead of exploding and
    // shuffling per-shingle rows into a MinPermVec aggregate; arithmetic
    // unchanged, so the oracle's per-column mins still match bit-for-bit
    val sig = reps.select(col("doc_id"),
        graft.functions.MinHashSigExpr.sig(col("sarr"), as, bs, P).as("m"))
      .transform(graft.CacheScope.persist) // both sides of the band self-join

    def m(side: String, i: Int) = element_at(col(s"$side.m"), i + 1)
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until 4).map(r => element_at(col("m"), 4 * b + r + 1)): _*)).as("bh"))
    }
    val bands = sig
      .select(col("doc_id"), col("m"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("m"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))

    val estExpr = ((0 until K)
      .map(i => when(m("a", i) === m("b", i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K).as("minhash_est")
    // A zero-overlap candidate scores jaccard 0 and falls to the
    // detector's >= 0.5 filter.
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"), estExpr)
      .distinct()
      // Each path reads this frame once (the detector's verify join-back,
      // or the agreement audit's candidate union), so the persist saves
      // no recompute. It stays as a cheap materialized waist: the distinct
      // candidate pairs are a small fraction of the band self-join rows
      // that produce them. Dropping it is a plan change to A/B first.
      .transform(graft.CacheScope.persist)
  }

  val qDedupMinhashLshOracle: String = minhashPairsSql("")

  /** Shared oracle prefix: MinHash signatures + LSH band rows as CTEs
    * (`bands` carries doc_id, m0..m15, band, bh) — used by the pair
    * oracles here and by the streaming near-dedup oracle.
    */
  // lazy: referenced by oracle vals declared EARLIER in this object (and
  // by StreamingQueries) — a strict val here would still be null when
  // qDedupMinhashLshOracle initializes
  private[queries] lazy val minhashBandsSqlPrefix: String = {
    val minCols = (0 until K)
      .map(i => s"min((${as(i)} * xm + ${bs(i)}) % $P) AS m$i").mkString(",\n      ")
    val bandSelects = (0 until Bands).map { b =>
      val cols = (0 until 4).map(r => s"m${4 * b + r}").mkString(", ")
      s"SELECT *, $b AS band, md5(concat_ws(',', $cols)) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
       |), s AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk)-2),
       |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
       |  FROM d
       |), h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $P AS xm,
       |         shingle
       |  FROM s
       |), sig AS (
       |  SELECT doc_id,
       |      $minCols
       |  FROM h GROUP BY doc_id
       |), bands AS (
       |  $bandSelects
       |)""".stripMargin
  }

  /** The whole-corpus MinHash pair SQL, with an optional extra predicate
    * on the final pair set — the incremental oracle is EXACTLY this
    * computation restricted to pairs touching the new batch.
    */
  private[queries] def minhashPairsSql(extraWhere: String): String = {
    val est = (0 until K).map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""$minhashBandsSqlPrefix, cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST($est AS DOUBLE) / $K AS minhash_est
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
       |), n AS (
       |  SELECT doc_id, count(*) AS n_shingles FROM s GROUP BY 1
       |), common AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS common
       |  FROM cand c
       |  JOIN s sa ON sa.doc_id = c.doc_a
       |  JOIN s sb ON sb.doc_id = c.doc_b AND sa.shingle = sb.shingle
       |  GROUP BY 1, 2
       |)
       |SELECT c.doc_a, c.doc_b, c.minhash_est,
       |       CAST(common AS DOUBLE) / (na.n_shingles + nb.n_shingles - common) AS jaccard
       |FROM cand c
       |JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
       |JOIN n na ON c.doc_a = na.doc_id
       |JOIN n nb ON c.doc_b = nb.doc_id
       |WHERE CAST(common AS DOUBLE) / (na.n_shingles + nb.n_shingles - common) >= 0.5$extraWhere
       |ORDER BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------- SimHash
  // 60-bit fingerprint, 4 bands x 15 bits, Hamming <= 3 (the Manku et al.
  // design): pigeonhole guarantees any pair within distance 3 shares one
  // of the 4 bands, and 2^15 band values keep candidate generation linear.
  // (An 8-bit-band variant collapses quadratically: at 50k docs every band
  // value holds ~200 docs -> 10^8 candidate pairs. Measured on the 10x
  // probe corpus before this layout was chosen.)
  private val SimBits = 60
  private val SimBands = 4             // 4 bands x 15 bits
  private val BandBits = 15
  private val HammingMax = 3

  /** 60-bit simhash per document over its token multiset (signed
    * popcount, then bit j set iff sum > 0 — the DuckDB oracle's
    * column-wise form reproduces it exactly; see [[simhashSigOver]]).
    */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame =
    simhashSigOver(documents(spark, dir), "doc_id", "text")

  /** 60-bit simhash signatures over an arbitrary document frame — the
    * reusable core behind [[qDedupSimhash]] and
    * CorpusPipeline.dedupNearSimhash (which detects on the pipeline's
    * exact-deduped representatives, the composition that stays
    * output-bounded on duplicate-saturated corpora).
    *
    * The whole signed-popcount runs per ROW ([[graft.functions.SimHashExpr]]
    * — one compiled pass over the token array, SimHashSpec-pinned to the
    * explode + SignedBitSum chain it replaced): every token of a document
    * lives in its own row, so no explode and no per-token shuffle is
    * needed. A document with no non-empty token returns NULL (it produced
    * no row under the exploded form) and is filtered, mirroring the
    * oracle's `WHERE tok <> ''` stream.
    */
  private[graft] def simhashSigOver(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        // fused tokenize+hash walk (round 12): the split form allocated
        // one UTF8String per token only for the hash to consume it once
        // — 1.8x on the signature pass at the 100x corpus (SURVEY §10.18);
        // SimHashTextSpec pins per-doc equality with the split chain
        graft.functions.SimHashTextExpr.of(col(textCol)).as("simhash"))
      .filter(col("simhash").isNotNull)
      .transform(graft.CacheScope.persist) // signature reused by both sides of the band self-join

  private def simhashSigSql: String = {
    val sums = (0 until SimBits)
      .map(j => s"sum(((hx >> $j) & 1) * 2 - 1) AS s$j").mkString(",\n      ")
    val fp = (0 until SimBits)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END").mkString(" + ")
    s"""t AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents
       |), h AS (
       |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hx
       |  FROM t WHERE tok <> ''
       |), bsum AS (
       |  SELECT doc_id,
       |      $sums
       |  FROM h GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bsum
       |)""".stripMargin
  }

  def qSimhashFingerprints(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).orderBy(col("doc_id"))

  val qSimhashFingerprintsOracle: String =
    s"WITH $simhashSigSql SELECT doc_id, simhash FROM sig ORDER BY 1"

  /** Near-dup pairs: band-blocked candidates, Hamming distance <= 3 of 60. */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOver(documents(spark, dir), "doc_id", "text")

  /** The band-blocked SimHash pair generator over an arbitrary frame. */
  private[graft] def simhashPairsOver(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (sig, repPairs) = simhashSigAndRepPairs(docs, idCol, textCol)
    // identical-SIGNATURE collapse (the ngram/minhash/containment lesson
    // applied to the one detector that lacked it): documents sharing a
    // simhash have identical band rows and pairwise hamming 0, so
    // banding + the pair join run on one representative per distinct
    // signature and the full pair set reassembles afterwards —
    // within-group pairs carry hamming 0, and a cross-group rep pair's
    // hamming holds for every member pair. Lossless by construction.
    // On the 99%-duplicate 100x corpus this is what keeps band buckets
    // unskewed: without it, exact copies multiply every bucket by k and
    // the band join by k² (measured 268 s under the broadcast plan AQE
    // picks for the small cached signature table, 53–93 s under forced
    // shuffle joins; collapsed, the k² work is output-only reassembly).
    val within = sig.as("x")
      .join(sig.as("y"),
        col("x.simhash") === col("y.simhash")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        lit(0).cast("int").as("hamming"))
    val cross = repPairs
      .join(sig.select(col("simhash").as("ha"), col("doc_id").as("ida")), "ha")
      .join(sig.select(col("simhash").as("hb"), col("doc_id").as("idb")), "hb")
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"), col("hamming"))
    within.unionByName(cross)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** (doc→simhash signatures, pre-reassembly block pairs `(ha, hb,
    * hamming)`) — the agreement audit consumes the blocks without ever
    * expanding them to member pairs.
    */
  private[queries] def simhashSigAndRepPairs(
      docs: DataFrame, idCol: String, textCol: String): (DataFrame, DataFrame) = {
    val sig = simhashSigOver(docs, idCol, textCol)
    val reps = sig.groupBy(col("simhash")).agg(min(col("doc_id")).as("rep"))
    (sig, repBandPairs(reps).select(col("ha"), col("hb"), col("hamming")))
  }

  /** Band-blocked near-dup candidates over one-representative-per-
    * signature rows `(simhash, rep)`: emits `(ha, hb, ra, rb, hamming)`
    * with hamming <= [[HammingMax]] — the shared generator behind the
    * pair query ([[simhashPairsOver]]) and group resolution
    * ([[simhashRepComponents]]). 4 band buckets of 15 bits each keep the
    * join linear (Manku pigeonhole); representative grain keeps buckets
    * unskewed on duplicate-saturated corpora.
    */
  private def repBandPairs(reps: DataFrame): DataFrame = {
    val bandStructs = (0 until SimBands).map(b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(simhash, ${BandBits * b}) % ${1 << BandBits}").as("bv")))
    val bands = reps
      .select(col("rep"), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("rep"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.rep") < col("b.rep"))
      .select(col("a.simhash").as("ha"), col("b.simhash").as("hb"),
        col("a.rep").as("ra"), col("b.rep").as("rb"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
  }

  val qDedupSimhashOracle: String = {
    val bandSelects = (0 until SimBands)
      .map(b => s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> ${BandBits * b}) & ${(1 << BandBits) - 1} AS bv FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH $simhashSigSql, bands AS (
       |  $bandSelects
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------ dedup group resolution
  /** Connected components over the SimHash near-dup pair graph — the
    * survivor-selection step: a~b and b~c put a and c in one dup GROUP
    * even if never directly compared. Components via iterative min-label
    * propagation ([[graft.ops.ConnectedComponents]], exact fixpoint);
    * component id = min doc_id = the kept canonical document.
    */
  // --- dedup cluster-size statistics ---
  // The report a dedup run ships with: how big are the duplicate
  // groups? Cluster sizes come from the same log-round CC resolution as
  // q_dedup_apply; the histogram (cluster size -> number of clusters,
  // docs removed at one-survivor-per-cluster) is a two-level
  // map-side-combinable aggregation over the component labels —
  // metadata-scale after the resolution. Singleton docs never enter
  // the pair graph and are reported from the corpus count delta.
  def qDedupClusterStats(spark: SparkSession, dir: String): DataFrame =
    clusterStatsOver(spark, dir, simhashRepComponents(spark, dir))

  private def clusterStatsOver(
      spark: SparkSession, dir: String, repComp: DataFrame): DataFrame = {
    // signature-grain resolution: component sizes are Σ group-size over
    // the component's signatures, and the in-graph doc count is Σ gsz —
    // the histogram never touches doc-grain rows at all
    val sizes = repComp.groupBy(col("component_id")).agg(sum(col("gsz")).as("sz"))
    val hist = sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("docs_removed",
        (col("cluster_size") - 1) * col("n_clusters"))
    val tot = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    // coalesce: sum over an edge-free corpus is NULL where count was 0
    val inGraph = repComp.agg(coalesce(sum(col("gsz")), lit(0L)).as("n_in_graph"))
    hist.crossJoin(broadcast(tot)).crossJoin(broadcast(inGraph))
      .select(col("cluster_size").cast("long").as("cluster_size"),
        col("n_clusters"), col("docs_removed"),
        (col("n_docs") - col("n_in_graph")).as("n_singletons"))
      .orderBy(col("cluster_size"))
  }

  // lazy: references qDedupComponentsOracle, declared later in this object
  lazy val qDedupClusterStatsOracle: String = {
    // reuse the recursive-closure component oracle verbatim as a CTE
    val compSql = qDedupComponentsOracle.replace("ORDER BY 1", "")
    s"""WITH comp AS ($compSql),
       |sizes AS (
       |  SELECT component_id, CAST(count(*) AS BIGINT) AS sz
       |  FROM comp GROUP BY 1),
       |hist AS (
       |  SELECT sz AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |  FROM sizes GROUP BY 1),
       |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |g AS (SELECT CAST(count(*) AS BIGINT) AS n_in_graph FROM comp)
       |SELECT cluster_size, n_clusters,
       |       CAST((cluster_size - 1) * n_clusters AS BIGINT) AS docs_removed,
       |       CAST(n_docs - n_in_graph AS BIGINT) AS n_singletons
       |FROM hist CROSS JOIN t CROSS JOIN g
       |ORDER BY cluster_size""".stripMargin
  }

  /** Signature-grain group resolution: one row per distinct simhash that
    * participates in the dedup graph — `(simhash, gsz, component_id)`,
    * where gsz is the identical-signature group size and component_id is
    * the min doc_id over the whole connected component.
    *
    * This is the identical-content collapse (SURVEY §10.16) applied to
    * GROUP RESOLUTION: identical documents connect completely, so CC over
    * the raw pair graph (27M edges at the 100x adversarial corpus, 107 s)
    * spends its rounds re-deriving what the collapse already knows. Here
    * CC runs on the REPRESENTATIVE graph — one vertex per distinct
    * signature, band edges only — and members inherit their rep's label.
    * Lossless: every member shares its representative's signature, hence
    * its component; and since each rep IS its group's min doc_id, the
    * min-label CC over reps yields exactly the min doc_id over member
    * docs. Groups of >= 2 identical docs with no cross-signature edge are
    * components too (their within-pairs connect them) — they take their
    * own rep as label. ComponentsCollapseSpec pins both equalities.
    */
  private[graft] def simhashRepComponents(
      spark: SparkSession, dir: String): DataFrame = {
    val sig = simhashSigOver(documents(spark, dir), "doc_id", "text")
    val groups = sig.groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("gsz"))
    val edges = repBandPairs(groups).select(col("ra"), col("rb"))
    val comp = graft.ops.ConnectedComponents.components(edges)
    groups.join(comp, groups("rep") === comp("id"), "left")
      .select(col("simhash"), col("gsz"),
        coalesce(col("comp"), when(col("gsz") >= 2, col("rep")))
          .as("component_id"))
      .filter(col("component_id").isNotNull)
      .transform(graft.CacheScope.persist) // feeds expansion + two aggregates
  }

  def qDedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentsOver(spark, dir, simhashRepComponents(spark, dir))

  private def componentsOver(
      spark: SparkSession, dir: String, repComp: DataFrame): DataFrame =
    // member expansion: docs inherit their signature's component label —
    // an equi-join on simhash, no doc-grain graph work anywhere
    simhashSigOver(documents(spark, dir), "doc_id", "text")
      .join(repComp.select(col("simhash"), col("component_id")), "simhash")
      .select(col("doc_id"), col("component_id"))
      .orderBy(col("doc_id"))

  /** The three standalone group reports — components, apply, cluster
    * stats — over ONE shared signature pass + component resolution.
    *
    * A user running the standalone trio back-to-back through
    * `SparkEntry.queries` pays the signature pass (the dominant cost of
    * the family at 1000×: SURVEY §10.18 A/B) once per query, because
    * each entry's scopedBuild drains the previous entry's persisted
    * intermediates by design. This bundle is the opt-in composition for
    * that user: all three frames reference the SAME CacheScope-persisted
    * `repComp` (and its persisted signature base), so executing them in
    * any order materializes the signature pass once. Drain via
    * [[graft.CacheScope.drain]] (or build the next scoped query) when
    * done. Results are frame-for-frame identical to the standalone trio.
    */
  def dedupGroupBundle(
      spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val repComp = simhashRepComponents(spark, dir)
    Map(
      "components" -> componentsOver(spark, dir, repComp),
      "apply" -> applyOver(spark, dir, repComp),
      "cluster_stats" -> clusterStatsOver(spark, dir, repComp))
  }

  /** Oracle computes the same fixpoint independently: transitive closure
    * via a recursive CTE, component = min reachable vertex (incl. self).
    */
  val qDedupComponentsOracle: String = {
    val bandSelects = (0 until SimBands)
      .map(b => s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> ${BandBits * b}) & ${(1 << BandBits) - 1} AS bv FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $simhashSigSql, bands AS (
       |  $bandSelects
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |), adj AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM adj
       |  UNION
       |  SELECT r.src, a.dst FROM reach r JOIN adj a ON r.dst = a.src
       |)
       |SELECT v.id AS doc_id,
       |       CAST(least(v.id, min(r.dst)) AS BIGINT) AS component_id
       |FROM (SELECT DISTINCT src AS id FROM adj) v
       |LEFT JOIN reach r ON r.src = v.id
       |GROUP BY v.id
       |ORDER BY 1""".stripMargin
  }

  /** End-to-end dedup APPLICATION: detect (SimHash pairs) -> group
    * (connected components) -> drop every non-canonical member -> report
    * the cleaned corpus per language. The drop is a broadcast anti-join
    * on the (small) non-survivor list; at scale the component table is
    * itself distributed, so the anti-join degrades gracefully to a
    * shuffle. The survivors count is what a pipeline actually ships.
    */
  def qDedupApply(spark: SparkSession, dir: String): DataFrame =
    applyOver(spark, dir, simhashRepComponents(spark, dir))

  private def applyOver(
      spark: SparkSession, dir: String, repComp: DataFrame): DataFrame = {
    val nonCanonical = componentsOver(spark, dir, repComp)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id"))
    documents(spark, dir)
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"))
      .orderBy(col("lang"))
  }

  val qDedupApplyOracle: String = {
    val bandSelects = (0 until SimBands)
      .map(b => s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> ${BandBits * b}) & ${(1 << BandBits) - 1} AS bv FROM sig")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE $simhashSigSql, bands AS (
       |  $bandSelects
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
       |), adj AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM adj
       |  UNION
       |  SELECT r.src, a.dst FROM reach r JOIN adj a ON r.dst = a.src
       |), dropped AS (
       |  SELECT v.id FROM (SELECT DISTINCT src AS id FROM adj) v
       |  LEFT JOIN reach r ON r.src = v.id
       |  GROUP BY v.id
       |  HAVING v.id <> least(v.id, min(r.dst))
       |)
       |SELECT lang, count(*) AS n_docs_kept
       |FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM dropped)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // --- corpus-level similarity: per-source MinHash UNION sketches ---
  // Dataset management above the document level: which SOURCES overlap?
  // The union sketch of a source is the per-permutation minimum over
  // every shingle any of its docs contains — mergeable (min combines
  // map-side), one tiny row per source regardless of corpus size — and
  // estimated Jaccard between sources is the fraction of agreeing
  // minima. The exact Jaccard (distinct-shingle set intersection) rides
  // along as the yardstick; AT SCALE only the sketches are computed and
  // the exact join is the thing this op exists to avoid. Same portable
  // permutation family as the doc-level MinHash, so the incremental
  // signature index could maintain these sketches per partition too.
  def qSourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    // ONE shuffle of the raw (source, shingle) stream builds the
    // per-shingle source SET (collect_set dedups inside the aggregate,
    // with map-side partials — no separate distinct pass); everything
    // else derives from that compact one-row-per-distinct-shingle frame.
    val srcSets = documents(spark, dir)
      .select(col("source"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("source"), explode(graft.functions.ShinglesExpr.shingles(col("tk")))
        .as("shingle"))
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .transform(graft.CacheScope.persist)
    // per-source distinct-shingle counts AND union sketches in one tiny
    // aggregate over the re-exploded sets (the sketch min is insensitive
    // to the dedup, so the set frame loses nothing)
    val bySrc = srcSets.select(explode(col("ss")).as("source"),
      (graft.functions.Md5Hash60Expr.of(col("shingle")) % 1000000007L).as("xm"))
    val minVec = udaf(new graft.functions.MinPermVec(as.toArray, bs.toArray, P))
    val sig = bySrc.groupBy(col("source"))
      .agg(minVec(col("xm")).as("m"), count(lit(1)).as("n_sh"))
    def m(side: String, i: Int) = element_at(col(s"$side.m"), i + 1)
    val est = ((0 until K)
      .map(i => when(m("a", i) === m("b", i), 1).otherwise(0))
      .reduce(_ + _).cast("double") / K).as("minhash_est")
    val pairs = sig.as("a").join(sig.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        est, col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
    // exact per-pair overlap: expand each multi-source shingle's ordered
    // source pairs in-row — the source universe is tiny (a catalog
    // dimension), so the fan-out is bounded by k² and almost every
    // shingle lives in one source (no pair at all). No posting
    // self-join ever happens.
    val common = srcSets
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss) - i - 1), y ->
          |    struct(x AS source_a, y AS source_b))))""".stripMargin)).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(common, Seq("source_a", "source_b"), "left")
      .select(col("source_a"), col("source_b"), col("minhash_est"),
        round(coalesce(col("common"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("common"), lit(0L))), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val qSourceSimilarityOracle: String = {
    val minCols = (0 until K)
      .map(i => s"min((${as(i)} * xm + ${bs(i)}) % $P) AS m$i").mkString(",\n      ")
    val est = (0 until K)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH d AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS tk FROM documents
       |  WHERE len(string_split_regex(trim(text), '\\s+')) >= 3
       |), s AS (
       |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
       |    generate_series(1, len(tk)-2),
       |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])))) AS shingle
       |  FROM d
       |), h AS (
       |  SELECT source, CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % $P AS xm
       |  FROM s
       |), sig AS (
       |  SELECT source,
       |      $minCols
       |  FROM h GROUP BY source
       |), sizes AS (
       |  SELECT source, count(*) AS n_sh FROM s GROUP BY 1
       |), common AS (
       |  SELECT sa.source AS source_a, sb.source AS source_b, count(*) AS common
       |  FROM s sa JOIN s sb ON sa.shingle = sb.shingle AND sa.source < sb.source
       |  GROUP BY 1, 2
       |)
       |SELECT a.source AS source_a, b.source AS source_b,
       |       CAST($est AS DOUBLE) / $K AS minhash_est,
       |       round(CAST(coalesce(c.common, 0) AS DOUBLE)
       |             / (na.n_sh + nb.n_sh - coalesce(c.common, 0)), 6) AS jaccard
       |FROM sig a JOIN sig b ON a.source < b.source
       |LEFT JOIN common c ON c.source_a = a.source AND c.source_b = b.source
       |JOIN sizes na ON na.source = a.source
       |JOIN sizes nb ON nb.source = b.source
       |ORDER BY 1, 2""".stripMargin
  }

  // --- sorted-neighborhood blocking (Hernández & Stolfo 1995) ---
  // The third candidate-generation family next to LSH banding and
  // prefix filtering: sort the corpus on a blocking key (lang, then
  // n_chars — near-dups have near-equal lengths), slide a window of
  // w = 3 over the sorted order, verify only pairs within the window.
  // Distributed shape: the sort is a per-lang window (row_number
  // partitioned by lang — each language sorts in parallel; a 100 TB
  // deployment range-partitions within language), and the
  // window-neighbor self-join is an equi-join on lang with a bounded
  // rank-distance predicate — candidate volume is exactly (w-1) * N,
  // linear by construction, the property that makes SNM attractive when
  // LSH's shingle-frequency skew bites. Verification is integer-exact
  // (common*5 >= 3*union ⇔ Jaccard >= 0.6 — no float threshold).
  // The oracle mirrors the same heuristic (the gate checks the
  // implementation, not SNM's recall).
  //
  // Plan-shape hazard (measured): if the shingle ARRAYS ride the
  // rank-join, Catalyst pushes the Jaccard filter into the join
  // condition and evaluates array_intersect for EVERY same-lang pair —
  // O(N²/langs) intersections, 93 s at 5k docs. So the rank-join
  // carries only (doc_id, lang, n, rn); the arrays are re-attached to
  // the (w-1)*N surviving candidates by two equi-joins, and the
  // intersect runs on candidates alone (1.3 s at the same scale).
  // Its verify stays here rather than in ShingleSets.verify: SNM
  // windows over every document, not over identical-set
  // representatives, so it has no set_hash or group size for that
  // verify to fetch; faking them would be a caller-specific branch.
  def qSortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 3)
      .withColumn("sarr", graft.functions.ShinglesExpr.shingles(col("tk")))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("sarr"), size(col("sarr")).as("n"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))))
      .transform(graft.CacheScope.persist)
    val slim = docs.select(col("doc_id"), col("lang"), col("n"), col("rn"))
    // the w=2 neighborhood as an EQUI join: each row probes ranks rn+1
    // and rn+2 explicitly, so the join keys on (lang, rn) and the
    // planner gets a hash/sort-merge join. The range form
    // (b.rn > a.rn AND b.rn <= a.rn + 2) equi-joins on lang ALONE with
    // the band as a post-filter — a within-language cross product that
    // the 100x rehearsal measured at 701 s (~10^10 comparisons); this
    // form is linear in rows x w.
    val cand = slim.as("a")
      .select(col("a.doc_id").as("ida"), col("a.lang").as("lang"),
        col("a.n").as("na"),
        explode(array(col("a.rn") + 1, col("a.rn") + 2)).as("rn"))
      .join(slim.as("b"), Seq("lang", "rn"))
      .select(col("ida"), col("b.doc_id").as("idb"),
        (col("na") + col("b.n")).as("ntot"))
    cand
      .join(docs.select(col("doc_id").as("ida"), col("sarr").as("sa")), "ida")
      .join(docs.select(col("doc_id").as("idb"), col("sarr").as("sb")), "idb")
      .withColumn("common",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", col("ntot") - col("common"))
      .filter(col("common") * 5 >= col("uni") * 3)
      .select(
        least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        round(col("common").cast("double") / col("uni"), 5).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qSortedNeighborhoodOracle: String =
    """WITH d0 AS (
      |  SELECT doc_id, lang, n_chars,
      |         string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 3
      |), d AS (
      |  SELECT doc_id, lang, n_chars,
      |         list_distinct(list_transform(
      |           generate_series(1, len(tk)-2),
      |           i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sarr,
      |         row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
      |  FROM d0
      |), p AS (
      |  SELECT a.doc_id AS ida, b.doc_id AS idb,
      |         CAST(len(list_intersect(a.sarr, b.sarr)) AS BIGINT) AS common,
      |         CAST(len(a.sarr) + len(b.sarr) - len(list_intersect(a.sarr, b.sarr)) AS BIGINT) AS uni
      |  FROM d a JOIN d b
      |    ON a.lang = b.lang AND b.rn > a.rn AND b.rn <= a.rn + 2
      |)
      |SELECT least(ida, idb) AS doc_a, greatest(ida, idb) AS doc_b,
      |       round(CAST(common AS DOUBLE) / uni, 5) AS jaccard
      |FROM p WHERE common * 5 >= uni * 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ winnowing
  // Minimizer fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
  // algorithm): hash every 3-token shingle, then keep the MINIMUM hash of
  // each window of 4 consecutive shingle hashes. Winnowing guarantees any
  // shared run of >= w+k-1 tokens contributes at least one shared
  // fingerprint, so it detects LOCAL overlap (a copied paragraph inside
  // otherwise-different docs) that whole-doc MinHash dilutes away —
  // the sub-document dedup layer of a corpus pipeline. Density is ~2/(w+1)
  // of the shingle count regardless of doc length, so the fingerprint
  // table is a bounded fraction of the corpus.
  //
  // Scale shape: fingerprint extraction is per-row higher-order-function
  // work (no explode until the distinct minimizer set, ~29% of shingles);
  // pair generation is an equi-join on the fingerprint key with a df cap
  // (<= 50) that bounds every postings list — the same hot-key guard as
  // the inverted index and embedding blocking. Pairs sharing >= 3
  // fingerprints are reported with their overlap count. The shingle hash
  // is the portable md5->int64, so DuckDB replays it bit-for-bit.
  def qMinimizers(spark: SparkSession, dir: String): DataFrame =
    minimizerPairs(documents(spark, dir), "doc_id", "text")

  /** The reusable winnowing core of [[qMinimizers]] over an arbitrary
    * document frame (also backs CorpusPipeline.minimizerPairs, which
    * composes it post exact-dedup so a duplicate-saturated feed can't
    * push every fingerprint past the df cap and zero the op).
    */
  def minimizerPairs(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // fingerprint extraction runs in the native WinnowFingerprintsExpr
    // (hash + window-min in one compiled pass; WinnowExprSpec pins it to
    // the declarative md5/conv + array_min(slice(...)) chain it replaced)
    val fps = docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 6) // >= 4 shingles -> >= 1 window
      .select(col("doc_id"),
        explode(graft.functions.WinnowFingerprintsExpr.fingerprints(col("tk")))
          .as("fp"))
    val capped = fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= 50)
      .select(col("doc_id"), col("fp"))
    capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val qMinimizersOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
      |h AS (
      |  SELECT doc_id,
      |         list_transform(range(1, len(tk)-1),
      |           i -> CAST('0x' || substr(md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), 1, 15) AS BIGINT)) AS hs
      |  FROM w WHERE len(tk) >= 6),
      |m AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(hs)-2),
      |         j -> list_aggregate(hs[j:j+3], 'min')))) AS fp
      |  FROM h),
      |capped AS (
      |  SELECT doc_id, fp FROM (
      |    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM m)
      |  WHERE df <= 50)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(count(*) AS BIGINT) AS shared_fps
      |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 3
      |ORDER BY 1, 2""".stripMargin

  // ----------------------------------------------- strategy agreement audit
  // The evaluation pass a pipeline runs before SWITCHING dedup
  // strategies: score each sketch candidate generator (MinHash+LSH,
  // SimHash) against the exact n-gram Jaccard >= 0.6 pair set — the
  // lossless AllPairs result, so it IS ground truth at its threshold —
  // as pair-level precision/recall. Thresholds are the generators' own
  // (LSH banding vs hamming <= 3), so the numbers measure what the
  // approximations actually trade, not a rescaled toy. Counts and
  // micro-unit ratios only (1e6 div n) — integer-exact end to end.
  // Each generator's plan appears EXACTLY ONCE in the DAG: the pair sets
  // union under an origin tag, one groupBy recovers per-pair membership
  // flags, and one global aggregate folds them into the four counts. (The
  // earlier intersect-per-strategy form referenced the expensive lossless
  // ground-truth plan four times — Spark recomputes uncached subplans per
  // reference, so the audit cost ~3x the sum of its parts.) Distinct
  // pairs per generator make max-over-tag exact set membership.
  def qDedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    // the ngram and minhash generators start from the IDENTICAL
    // tokenize→shingles→set_hash frame — build and persist it ONCE and
    // hand it to both (simhash is token-grain, its base differs).
    //
    // Recorded NEGATIVE result (round 11): a block-grain rewrite —
    // weighted identical-text group-pair blocks instead of the expanded
    // union, exact by construction — measured 54 vs 58 s at 100×
    // (the audit is DETECTOR-bound: three candidate-generation passes
    // dominate and the 85M-row expanded union is cheap next to them)
    // and 2.5× WORSE at sf0.1 (16.4 vs 6.6 s — a dozen extra
    // metadata-scale join/distinct stages cost real wall time when the
    // detectors only take a second each). Reverted.
    // persistEager, not persist (optimization r16): the three detector
    // branches materialize concurrently under AQE, and each concurrent
    // first reader of the lazily-cached base recomputed the tokenize+
    // shingle pass from source (4 corpus-scan stages of 15-27 s execSum
    // in one fold; OPTIMIZATION_r16.md). Populating the cache up front
    // runs that pass once.
    val base = ShingleSets.base(documents(spark, dir)).transform(graft.CacheScope.persistEager)
    // Cross-detector FUSED verify (optimization r16): the ngram and
    // minhash candidate sets overlap heavily (both find the same
    // near-dups). Union the two candidate sets, fetch arrays and compute
    // the exact intersection ONCE per distinct candidate pair, and derive
    // each detector's block membership from its own candidate flag +
    // threshold — one verify pass instead of two. Semantics identical:
    // ngram blocks are prefix-filter candidates at jaccard >= 0.6 (the
    // lossless truth set), minhash blocks LSH candidates at >= 0.5; a
    // minhash-only candidate can never reach the truth set (the prefix
    // filter is lossless at 0.6, so every >= 0.6 pair is an ngram
    // candidate too), and the ng flag enforces it structurally anyway.
    val cands = TextQueries.ngramCand(base)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("ng"),
        lit(null).cast("double").as("minhash_est"))
      .unionByName(minhashCand(base)
        .select(col("doc_a"), col("doc_b"), lit(0L).as("ng"), col("minhash_est")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("ng")).as("ng"), max(col("minhash_est")).as("minhash_est"))
    val blocks = ShingleSets.verify(cands, ShingleSets.reps(base))
      .withColumn("jaccard", ShingleSets.jaccard)
      .select(col("ha"), col("hb"),
        when(col("ng") === 1L && col("jaccard") >= 0.6, 1L).otherwise(0L).as("t"),
        when(col("minhash_est").isNotNull && col("jaccard") >= 0.5, 1L)
          .otherwise(0L).as("l"),
        lit(0L).as("s"))
      .filter(col("t") === 1L || col("l") === 1L)
    val sh = qDedupSimhash(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        lit(0L).as("t"), lit(0L).as("l"), lit(1L).as("s"))
    // within-group pairs (identical shingle sets) belong to BOTH shingle
    // detectors by construction (jaccard exactly 1 >= both thresholds)
    val flags = ShingleSets.expand(base, blocks, lit(1L).as("t"), lit(1L).as("l"), lit(0L).as("s"))
      .unionByName(sh)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("t")).as("t"), max(col("l")).as("l"), max(col("s")).as("s"))
    flags
      .agg(
        coalesce(sum(col("t")), lit(0L)).as("n_truth"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("l") * col("t")), lit(0L)).as("c_lsh"),
        coalesce(sum(col("s")), lit(0L)).as("n_sh"),
        coalesce(sum(col("s") * col("t")), lit(0L)).as("c_sh"))
      .selectExpr(
        """stack(2,
          |  'minhash_lsh', n_lsh, n_truth, c_lsh,
          |  'simhash',    n_sh,  n_truth, c_sh)
          |AS (strategy, n_pairs, n_truth, n_common)""".stripMargin)
      .select(col("strategy"), col("n_pairs"), col("n_truth"), col("n_common"),
        // NULL on an empty pair set, as the oracle's integer division
        expr("1000000 * n_common div nullif(n_pairs, 0)").as("precision_micro"),
        expr("1000000 * n_common div nullif(n_truth, 0)").as("recall_micro"))
      .orderBy(col("strategy"))
  }

  val qDedupAgreementOracle: String =
    s"""WITH truth AS (
       |  SELECT doc_a, doc_b FROM (${TextQueries.qDedupNgramJaccardOracle})),
       |lsh AS (
       |  SELECT doc_a, doc_b FROM ($qDedupMinhashLshOracle)),
       |sh AS (
       |  SELECT doc_a, doc_b FROM ($qDedupSimhashOracle)),
       |stats AS (
       |  SELECT 'minhash_lsh' AS strategy,
       |         (SELECT CAST(count(*) AS BIGINT) FROM lsh) AS n_pairs,
       |         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
       |         (SELECT CAST(count(*) AS BIGINT)
       |          FROM lsh JOIN truth USING (doc_a, doc_b)) AS n_common
       |  UNION ALL
       |  SELECT 'simhash',
       |         (SELECT CAST(count(*) AS BIGINT) FROM sh),
       |         (SELECT CAST(count(*) AS BIGINT) FROM truth),
       |         (SELECT CAST(count(*) AS BIGINT)
       |          FROM sh JOIN truth USING (doc_a, doc_b)))
       |SELECT strategy, n_pairs, n_truth, n_common,
       |       CAST(1000000 * n_common // n_pairs AS BIGINT) AS precision_micro,
       |       CAST(1000000 * n_common // n_truth AS BIGINT) AS recall_micro
       |FROM stats ORDER BY strategy""".stripMargin

  // ----------------------------------------------- content-defined chunking
  // Rolling-hash chunk boundaries (the LBFS/rsync/FastCDC family, Muthitacharoen
  // et al. 2001), at token granularity: a boundary falls after token j
  // whenever the Karp-Rabin hash of the 4-token window ending at j is
  // ≡ 0 mod 8. Because the boundary decision depends only on LOCAL
  // content, inserting or deleting a token re-chunks only the
  // surrounding window — chunk fingerprints before and after the edit
  // still match, which is what makes CDC the storage-dedup layer (and a
  // shift-robust alternative to fixed-stride shingles). Chunks are
  // reported as shared fingerprints across docs (n_docs >= 2).
  //
  // Arithmetic: token hash = portable md5->int64 mod P (P = 1e9+7),
  // window hash = Σ h_i * 31^(3-i) mod P — every intermediate stays
  // under 1.2e14, exact in BIGINT in both engines. All per-row
  // higher-order functions until the chunk explode (~1 row per ~8-30
  // tokens); one shuffle on the chunk fingerprint. element_at keeps
  // Spark's indexing 1-based to mirror the oracle's list semantics.
  def qCdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(documents(spark, dir))
      .groupBy(md5(col("chunk")).as("fp"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("fp"))

  /** (doc_id, text) -> (doc_id, chunk) under the rolling-hash boundary
    * rule; exposed for the shift-robustness spec. The derivation runs in
    * [[graft.functions.CdcChunksExpr]] — one compiled codegen-friendly
    * pass per doc; CdcExprSpec pins it equal to the declarative HOF
    * chain below on real corpus text, and the oracle gate pins it
    * against DuckDB.
    */
  private[queries] def cdcChunks(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    .filter(size(col("tk")) >= 4)
    .select(col("doc_id"),
      explode(graft.functions.CdcChunksExpr.chunks(col("tk"))).as("chunk"))

  /** The original five-stage higher-order-function form — kept as the
    * independently-derived witness CdcExprSpec checks the native
    * expression against (each md5/window/slice step is a separate
    * Catalyst builtin here, so agreement is meaningful).
    */
  private[queries] def cdcChunksHof(docs: DataFrame): DataFrame = {
    val P = 1000000007L
    def th(e: String) =
      s"(cast(conv(substring(md5($e), 1, 15), 16, 10) as bigint) % $P)"
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
      .filter(size(col("tk")) >= 4)
      // hash every token ONCE, then window sums only read the array —
      // lambdas are interpreted (no codegen), so hashing per window
      // member instead of per token was a measured 9x on the hot path
      // (68 s -> 7.4 s at sf0.1: 4x duplicate md5s plus the per-window
      // hex-string conv parsing)
      .withColumn("ths", expr(s"transform(tk, t -> ${th("t")})"))
      .withColumn("hs", expr(
        s"""transform(sequence(4, size(tk)), j ->
           |  (element_at(ths, j-3) * 29791
           |   + element_at(ths, j-2) * 961
           |   + element_at(ths, j-1) * 31
           |   + element_at(ths, j)) % $P)""".stripMargin))
      // sort after distinct: DuckDB's list_distinct does not preserve
      // order, so BOTH engines pin ascending ends explicitly
      .withColumn("ends", expr(
        """array_sort(array_distinct(concat(
          |  filter(sequence(4, size(tk)), j -> element_at(hs, j-3) % 8 = 0),
          |  array(size(tk)))))""".stripMargin))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ends)), k ->
          |  array_join(slice(tk,
          |    CASE WHEN k = 1 THEN 1 ELSE element_at(ends, k-1) + 1 END,
          |    element_at(ends, k)
          |      - CASE WHEN k = 1 THEN 1 ELSE element_at(ends, k-1) + 1 END + 1),
          |  ' '))""".stripMargin)).as("chunk"))
  }

  val qCdcChunksOracle: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
      |  WHERE len(string_split_regex(trim(text), '\s+')) >= 4),
      |h AS (
      |  SELECT doc_id, tk,
      |         list_transform(range(4, len(tk)+1), j ->
      |           ((CAST('0x' || substr(md5(tk[j-3]), 1, 15) AS BIGINT) % 1000000007) * 29791
      |          + (CAST('0x' || substr(md5(tk[j-2]), 1, 15) AS BIGINT) % 1000000007) * 961
      |          + (CAST('0x' || substr(md5(tk[j-1]), 1, 15) AS BIGINT) % 1000000007) * 31
      |          + (CAST('0x' || substr(md5(tk[j]),   1, 15) AS BIGINT) % 1000000007)) % 1000000007) AS hs
      |  FROM w),
      |b AS (
      |  SELECT doc_id, tk,
      |         list_sort(list_distinct(list_append(
      |           list_filter(range(4, len(tk)+1), j -> hs[j-3] % 8 = 0), len(tk)))) AS ends
      |  FROM h),
      |c AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(ends)+1), k ->
      |           array_to_string(tk[CASE WHEN k = 1 THEN 1 ELSE ends[k-1]+1 END : ends[k]], ' '))) AS chunk
      |  FROM b)
      |SELECT md5(chunk) AS fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_occ
      |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY 1""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_agreement" -> (qDedupAgreement _),
    "q_cdc_chunks" -> (qCdcChunks _),
    "q_minimizers" -> (qMinimizers _),
    "q_sorted_neighborhood" -> (qSortedNeighborhood _),
    "q_source_similarity" -> (qSourceSimilarity _),
    "q_dedup_minhash_lsh" -> (qDedupMinhashLsh _),
    "q_simhash_fingerprints" -> (qSimhashFingerprints _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_dedup_components" -> (qDedupComponents _),
    "q_dedup_cluster_stats" -> (qDedupClusterStats _),
    "q_dedup_apply" -> (qDedupApply _))

  def oracles: Map[String, String] = Map(
    "q_dedup_agreement" -> qDedupAgreementOracle,
    "q_cdc_chunks" -> qCdcChunksOracle,
    "q_minimizers" -> qMinimizersOracle,
    "q_sorted_neighborhood" -> qSortedNeighborhoodOracle,
    "q_source_similarity" -> qSourceSimilarityOracle,
    "q_dedup_minhash_lsh" -> qDedupMinhashLshOracle,
    "q_simhash_fingerprints" -> qSimhashFingerprintsOracle,
    "q_dedup_simhash" -> qDedupSimhashOracle,
    "q_dedup_components" -> qDedupComponentsOracle,
    "q_dedup_cluster_stats" -> qDedupClusterStatsOracle,
    "q_dedup_apply" -> qDedupApplyOracle)
}
