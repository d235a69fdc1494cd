package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.ops.{MinHashLsh, ShingleSets}

/** Incremental near-dedup: dedup a NEW batch of documents against a
  * persisted MinHash signature index instead of re-fingerprinting the
  * whole corpus — the daily-increment analog of the reference's watermark
  * loop (ref: etl/daily_load/violation_etl_daily.py:120-146, which pulls
  * only rows past MAX(date) and merges them into the standing tables).
  *
  * The index is a lake table maintained by [[graft.etl.Sinks.upsert]]
  * (last-writer-wins on doc_id, so re-ingesting a day is idempotent) with
  * one row per document:
  *
  *   doc_id BIGINT | m ARRAY<BIGINT>[16] | sarr ARRAY<STRING> | n_shingles INT
  *
  * `m` is the 16-permutation MinHash signature ([[graft.ops.MinHashLsh]],
  * the family [[SketchDedupQueries]] uses too, so batch-vs-index pairs
  * are bit-identical to whole-corpus pairs); `sarr` is the distinct
  * 3-shingle set ([[graft.ops.ShingleSets.base]]), kept so
  * the exact-Jaccard verify never touches raw text — candidate
  * verification reads only index rows.
  *
  * Scale design — why a daily ingest stays O(batch), not O(corpus):
  *  - signature computation is a pure per-row map (no explode, no
  *    shuffle): shingle hashes and all 16 permutation minima are
  *    codegen'd array expressions over the in-row shingle set, so
  *    fingerprinting the batch never repartitions anything;
  *  - candidate generation is `batch bands ⋈ index bands` — an equi-join
  *    on (band, band_hash) whose probe side is the (small) batch; the
  *    index side scans 4 band hashes per doc derived from 16 longs, not
  *    text, and Spark broadcasts the batch side when it fits;
  *  - verification is in-row: both docs' shingle arrays ride the band
  *    join itself and exact Jaccard is an `array_intersect` per hit —
  *    per-pair work, no index row or shingle is ever shuffled.
  */
object IncrementalDedupQueries {

  import MinHashLsh.Bands

  private val JaccardMin = 0.5

  /** Ceiling (plan-stats bytes of the batch's payload-carrying band
    * rows) past which [[pairsForBatchSigs]] refuses to BROADCAST the
    * batch side and fails fast instead of OOMing the driver. The verify
    * payload rides the broadcast by design — O(daily batch), ~4 band
    * rows/doc each carrying the signature and shingle arrays — so a
    * "batch" approaching corpus size is a contract violation, not a
    * tuning problem: the whole-corpus [[SketchDedupQueries]] path is
    * the right tool there (banded self-join, nothing broadcast).
    * The compared estimate is POST-explode: Generate's basic stats
    * scale from the pre-explode child, so the guard multiplies by the
    * [[Bands]] fan-out before comparing — a batch passing the ceiling
    * really broadcasts ≤ ~2 GiB, 4× under Spark's 8 GB hard limit
    * instead of landing on it at the boundary. Measured: the
    * 1000×-tier daily shape estimates 1.54 MB pre-explode → ~6 MB
    * compared (sentinel run, 2026-08-16, SPARK_GRAFT_INC_STATS), so
    * daily batches keep two-plus orders of magnitude of headroom while
    * a corpus-scale input (stats scale with the scan) trips.
    * `graft.inc.broadcast.max.bytes` overrides for tests and deliberate
    * opt-ins.
    */
  val DefaultMaxBatchBroadcastBytes: Long = 2L << 30 // 2 GiB

  private def refuseBroadcast(est: BigInt): Nothing =
    throw new IllegalStateException(
      s"incremental-dedup batch side estimates $est bytes " +
        s"(> ceiling $maxBatchBroadcastBytes): a batch this close to corpus " +
        "size would OOM the driver broadcasting its verify payload. Dedup " +
        "corpus-scale inputs with the whole-corpus SketchDedupQueries path " +
        "(banded self-join, nothing broadcast), or raise " +
        "graft.inc.broadcast.max.bytes to opt in.")

  private def maxBatchBroadcastBytes: Long = sys.props
    .get("graft.inc.broadcast.max.bytes").map(_.toLong)
    .getOrElse(DefaultMaxBatchBroadcastBytes)

  /** Per-document signature rows for the index: one narrow map-only plan
    * (doc_id, m, sarr, n_shingles). Documents under 3 tokens carry no
    * 3-shingle and are excluded, matching the whole-corpus query.
    */
  def signatures(docs: DataFrame): DataFrame = ShingleSets.base(docs)
    .select(col("doc_id"), MinHashLsh.sig(col("sarr")).as("m"),
      col("sarr"), col("n_shingles"))

  /** Merge a day's signatures into the persisted index (last-writer-wins
    * on doc_id — a re-ingested or corrected document replaces its row).
    *
    * With `ingestDate` given, the index is PARTITIONED by ingest_date and
    * the merge is partition-scoped: a daily batch writes only its own
    * partition — O(batch) I/O, not an O(corpus) table rewrite — while
    * `globalKeys` finds and rewrites the (few) older partitions holding a
    * previous version of a re-ingested doc_id, so the one-row-per-doc
    * invariant survives re-ingestion. This is the layout a 100 TB corpus
    * needs; the unpartitioned form (no `ingestDate`) stays for small
    * indexes and tests.
    */
  def updateIndex(
      spark: SparkSession, batchSigs: DataFrame, path: String,
      ingestDate: Option[String] = None): Unit = ingestDate match {
    case None => graft.etl.Sinks.upsert(spark, batchSigs, path, keys = Seq("doc_id"))
    case Some(d) => graft.etl.Sinks.upsert(
      spark, batchSigs.withColumn("ingest_date", lit(d)), path,
      keys = Seq("doc_id"), partitionBy = Seq("ingest_date"), globalKeys = true)
  }

  /** Near-dup pairs TOUCHING the batch: every (doc_a, doc_b, minhash_est,
    * jaccard) with jaccard >= 0.5 where at least one side is a batch doc,
    * from the batch's own [[signatures]] rows (the daily path holds them:
    * it just fingerprinted the batch and upserted those rows, so finding
    * the batch never scans the index). `index` must already hold them.
    * Equal by construction to the whole-corpus [[SketchDedupQueries]]
    * pair set restricted to batch-touching pairs: the band family is
    * identical ([[graft.ops.MinHashLsh]]), so `batch bands ⋈ index bands`
    * yields exactly the whole-corpus candidates with a batch side, and
    * the verify arithmetic (signature-position agreement, exact Jaccard
    * over the distinct shingle sets) is the same.
    *
    * The verify rides IN the band join: the batch's band rows broadcast
    * WITH their payload (a daily batch × ~1 KB — a "batch" approaching
    * corpus size trips the [[DefaultMaxBatchBroadcastBytes]] guard and
    * must use the whole-corpus [[SketchDedupQueries]] path
    * instead), the index's payload-carrying band rows STREAM through the
    * probe, and est/jaccard are computed in-row at the join output. Band
    * multiplicity (a pair sharing several of its 4 bands, and batch-batch
    * pairs arriving in both orientations) dedups via a groupBy whose
    * partial aggregate computes both measures once per band hit — they
    * are symmetric and identical per pair, so min() is a pure dedup —
    * and the Jaccard threshold applies to its slim output.
    *
    * Why not join the index for the verify data (the pre-round-13
    * shape)? The candidate set exceeds the broadcast threshold (1.09M
    * pairs at the 1000× tier), so BOTH verify joins became sort-merge —
    * the FULL standing index, shingle arrays included, shuffled twice
    * per daily batch. On a 1000-executor cluster against a 100 TB index
    * that is a network rewrite of the whole table, twice a day; this
    * shape never shuffles an index row. Interleaved A/B at 1000×
    * (5M-doc index, 1k-doc batch, 1.08M pairs either way):
    * min-of-6 13.6 → 8.8 s quiet, and under external load the gap
    * widens (median 25 → 16 s) because there is no shuffle to contend
    * on. The 4× per-hit verify arithmetic (vs once per distinct pair)
    * is map-side and costs less than one index shuffle.
    */
  def pairsForBatchSigs(index: DataFrame, batchSigs: DataFrame): DataFrame = {
    // band rows carrying the verify payload: on the index side the
    // Generate fuses with the join's probe in whole-stage codegen, so a
    // band row that matches nothing never copies its arrays
    def payload(sigs: DataFrame) = MinHashLsh.bands(sigs, "doc_id", "m", "sarr", "n_shingles")
    val batchBands = payload(batchSigs)
    // structural form of the "daily batch" contract above: refuse to
    // broadcast a corpus-sized batch instead of OOMing the driver.
    // Generate's stats scale from the pre-explode child, so compare the
    // post-explode bytes (× Bands) the broadcast will actually carry.
    val est = BigInt(
      batchBands.queryExecution.optimizedPlan.stats.sizeInBytes.toString) *
      Bands
    if (sys.env.contains("SPARK_GRAFT_INC_STATS"))
      System.err.println(s"[inc-guard] batch-side estimate $est bytes " +
        s"post-explode (ceiling $maxBatchBroadcastBytes)")
    if (est > maxBatchBroadcastBytes) refuseBroadcast(est)
    broadcast(batchBands.as("a"))
      .join(payload(index).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.m").as("ma"), col("b.m").as("mb"),
        col("a.sarr").as("shka"), col("b.sarr").as("shkb"),
        col("a.n_shingles").as("na"), col("b.n_shingles").as("nb"))
      // est/jaccard are symmetric, so the a/b orientation of ma/mb and
      // shka/shkb (which crosses doc_a/doc_b when a.doc_id > b.doc_id)
      // cannot change either value; the set sizes ride unordered
      .groupBy(col("doc_a"), col("doc_b"))
      // the estimate is evaluated inside its aggregate, which codegen
      // splits into a method of its own: projected before the aggregate
      // it grew the fused join stage's loop to 9,137 bytecode bytes, past
      // the 8,000 above which HotSpot never JIT-compiles a method. The
      // overlap is in-row on the carried payload, not ShingleSets.verify's
      // fetch by id: the index side must never shuffle (see the scaladoc).
      // The threshold filters after the aggregate: a filter on the
      // projected overlap is pushed into the join condition and the
      // intersection is evaluated again for the projection
      .agg(min(MinHashLsh.estimate(col("ma"), col("mb"))).as("minhash_est"),
        min(size(array_intersect(col("shka"), col("shkb")))).as("common"),
        min(least(col("na"), col("nb"))).as("na"), min(greatest(col("na"), col("nb"))).as("nb"))
      .select(col("doc_a"), col("doc_b"), col("minhash_est"), ShingleSets.jaccard.as("jaccard"))
      .filter(col("jaccard") >= JaccardMin)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------------------- the gated query
  // A full incremental day simulated end-to-end against a real lake table:
  // the standing corpus (doc_id % 5 <> 4) is indexed, the new day's batch
  // (doc_id % 5 = 4) is fingerprinted ALONE, upserted, and deduped via the
  // batch-vs-index banded join. The oracle recomputes the whole-corpus
  // pair set and restricts it to batch-touching pairs — equality proves
  // the incremental path loses nothing against the batch.
  private def batchPred: Column = col("doc_id") % 5 === 4

  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val lake = java.nio.file.Files.createTempDirectory("minhash-index")
      .resolve("sig").toString
    updateIndex(spark, signatures(docs.filter(!batchPred)), lake)
    val batchSigs = signatures(docs.filter(batchPred)).transform(graft.CacheScope.persist)
    updateIndex(spark, batchSigs, lake)
    val index = graft.ParquetFooters.read(spark, lake)
    // materialize before deleting the scratch lake — the returned frame
    // must not dangle on a temp directory this query created
    val out = pairsForBatchSigs(index, batchSigs)
      .localCheckpoint(true)
    batchSigs.unpersist()
    graft.etl.LakeFs.deleteRecursively(spark,
      new org.apache.hadoop.fs.Path(lake).getParent)
    out
  }

  val qDedupIncrementalOracle: String =
    SketchDedupQueries.minhashPairsSql(
      "\n  AND (c.doc_a % 5 = 4 OR c.doc_b % 5 = 4)")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_incremental" -> (qDedupIncremental _))

  def oracles: Map[String, String] = Map(
    "q_dedup_incremental" -> qDedupIncrementalOracle)
}
