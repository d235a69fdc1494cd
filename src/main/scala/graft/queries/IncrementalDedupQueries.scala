package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._

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
  * `m` is the 16-permutation MinHash signature (same permutation family
  * as [[SketchDedupQueries]], so batch-vs-index pairs are bit-identical
  * to whole-corpus pairs); `sarr` is the distinct 3-shingle set, kept so
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
  *  - verification is in-row: a candidate pair fetches the two docs'
  *    shingle arrays by doc_id (equi-joins against the index) and
  *    computes exact Jaccard via `array_intersect` — per-pair work, no
  *    shingle-level shuffle at all.
  */
object IncrementalDedupQueries {

  import SketchDedupQueries.{P, K, Bands, as, bs}

  private val JaccardMin = 0.5

  /** Ceiling (plan-stats bytes of the batch's payload-carrying band
    * rows) past which [[pairsFromBatchBands]] refuses to BROADCAST the
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
  def signatures(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(trim(col("text")), "\\s+").as("tk"))
    .filter(size(col("tk")) >= 3)
    .withColumn("sarr", graft.functions.ShinglesExpr.shingles(col("tk")))
    // all K permutation minima in one compiled pass (MinHashSigSpec pins
    // it to the md5-lambda + K×array_min(transform) chain it replaced)
    .select(col("doc_id"),
      graft.functions.MinHashSigExpr.sig(col("sarr"), as, bs, P).as("m"),
      col("sarr"), size(col("sarr")).as("n_shingles"))

  /** Signature-ONLY rows (doc_id, m) in one fused text walk
    * ([[graft.functions.MinHashTextExpr]]) — for consumers that never
    * read the stored shingle array (the streaming ingest gate keys LSH
    * bands off `m` alone). Bit-identical minima to [[signatures]]
    * (MinHashTextSpec), and `m IS NOT NULL` selects exactly the
    * `size(tk) >= 3` documents, so band rows derived from either frame
    * are interchangeable. Measured A/B on the 100x probe corpus
    * (SURVEY §10.19, min of 4 runs): 1.42 s -> 1.21 s signature pass, a
    * ~1.2x wall win — smaller than the SimHash fused walk's 1.6x
    * because [[graft.functions.MinHashSigExpr]] had already eliminated
    * the hex round-trip, so md5 (unchanged by fusion) dominates what
    * remains; the fused pass lands near the bare-scan floor (scan_len
    * 1.28 s on the same runs).
    */
  def signaturesSigOnly(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"),
      graft.functions.MinHashTextExpr.sig(col("text"), as, bs, P).as("m"))
    .filter(col("m").isNotNull)

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

  /** LSH band rows (doc_id, band, bh) from index signature rows — 4 band
    * hashes per doc, derived from the 16 stored minima (never from text).
    */
  private[graft] def bandRows(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until 4).map(r => element_at(col("m"), 4 * b + r + 1)): _*)).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Band rows CARRYING the verify payload (m, sarr, n_shingles) — the
    * shape [[pairsFromBatchBands]] joins on. Inside whole-stage codegen
    * the Generate fuses with the probe of the broadcast join that
    * consumes it, so a non-matching band row never copies its payload;
    * only the ~4-per-pair hits materialize the arrays.
    */
  private def bandPayload(sigs: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until 4).map(r => element_at(col("m"), 4 * b + r + 1)): _*)).as("bh"))
    }
    sigs
      .select(col("doc_id"), col("m"), col("sarr"), col("n_shingles"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("m"), col("sarr"), col("n_shingles"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Near-dup pairs TOUCHING the batch: every (doc_a, doc_b, minhash_est,
    * jaccard) with jaccard >= 0.5 where at least one side is a batch doc.
    * Equal by construction to the whole-corpus [[SketchDedupQueries]]
    * pair set restricted to batch-touching pairs: the band family is
    * identical, so `batch bands ⋈ index bands` yields exactly the
    * whole-corpus candidates with a batch side, and the verify arithmetic
    * (signature-position agreement, exact Jaccard over the distinct
    * shingle sets) is the same.
    */
  /** Generous in-memory bound on one doc's post-explode broadcast
    * payload (Bands copies of the 16-long signature + the distinct
    * shingle strings). A batch whose id count × this clears the ceiling
    * is accepted with NO index job at all — the common daily case.
    */
  private val PreGuardBytesPerDoc: Long = 16 * 1024

  /** Parquet bytes undercount the in-memory arrays the broadcast
    * actually carries (dictionary/RLE on shingle strings) — the
    * pre-guard's per-row estimate scales by this before comparing, so
    * a batch passing the cheap gate cannot be off by a compression
    * factor from the byte-accurate in-memory guard downstream.
    */
  private val ParquetToMemoryMargin: Long = 8

  def pairsAgainstIndex(index: DataFrame, batchIds: DataFrame): DataFrame = {
    // the id projection persists FIRST and feeds both the pre-guard
    // count and the semi-join below, so batchIds evaluates exactly once:
    // a non-deterministic id source cannot show the guard different ids
    // than the join consumes, and no extra job runs per call. The cache
    // is ids-only — O(batch) narrow rows, orders of magnitude under the
    // signature rows the guard protects against caching.
    // CacheScope, not a persist released before return: batchSigs below
    // is cached from ids' lineage, and if its blocks were ever dropped
    // (storage pressure, an early drain) a recompute would re-evaluate
    // batchIds — so ids must stay cached for as long as the returned
    // plan can execute, i.e. until the caller's own drain.
    val ids = graft.CacheScope.persist(batchIds.select(col("doc_id")))
    // cheap refusal BEFORE materializing the signature rows: a
    // corpus-sized id list would otherwise get its full signature rows
    // CACHED below (the storage blowout arriving via the cache instead
    // of the broadcast) before the byte-accurate guard could throw.
    // Small batches accept on the generous per-doc bound alone (one
    // id-only count, no index job); larger ones estimate from the
    // index's average parquet row size × the compression margin × the
    // band fan-out. A refusal unpersists everything on the way out — it
    // must not leave batch-scale storage resident until the next drain.
    try {
      val nBatch = ids.count()
      if (BigInt(nBatch) * PreGuardBytesPerDoc > maxBatchBroadcastBytes) {
        val nIndex = index.count()
        if (nIndex > 0) {
          val perRow = BigInt(
            index.queryExecution.optimizedPlan.stats.sizeInBytes.toString) / nIndex
          val estPre = perRow * ParquetToMemoryMargin * nBatch * Bands
          if (estPre > maxBatchBroadcastBytes) refuseBroadcast(estPre)
        }
      }
      // materialize the batch's signature rows (the index must be scanned
      // to fetch them anyway): basic stats put a semi-join at its LEFT
      // side's size — O(index) — which would spuriously trip the broadcast
      // guard for every daily batch against a big index; the cached frame
      // reports its REAL O(batch) bytes.
      val batchSigs = graft.CacheScope.persist(
        index.join(ids, Seq("doc_id"), "left_semi"))
      batchSigs.count()
      try pairsFromBatchBands(index, bandPayload(batchSigs))
      catch {
        case e: IllegalStateException => batchSigs.unpersist(); throw e
      }
    } catch {
      case e: Throwable => ids.unpersist(); throw e
    }
  }

  /** Steady-state daily form of [[pairsAgainstIndex]]: the batch's band
    * rows derive from its OWN signature rows — identical to the index's
    * copy, since the last-writer-wins upsert just wrote them — so finding
    * the batch never scans the index. Same output by construction
    * (IncrementalDedupSpec pins the id-based form; the gated
    * q_dedup_incremental runs THIS form).
    */
  def pairsForBatchSigs(index: DataFrame, batchSigs: DataFrame): DataFrame =
    pairsFromBatchBands(index, bandPayload(batchSigs))

  /** The verify rides IN the band join: the batch's band rows broadcast
    * WITH their payload (a daily batch × ~1 KB — a "batch" approaching
    * corpus size trips the [[DefaultMaxBatchBroadcastBytes]] guard and
    * must use the whole-corpus [[SketchDedupQueries]] path
    * instead), the index's payload-carrying band rows STREAM through the
    * probe, and est/jaccard are computed in-row at the join output. Band
    * multiplicity (a pair sharing several of its 4 bands, and batch-batch
    * pairs arriving in both orientations) dedups via a groupBy over slim
    * verified rows — both measures are symmetric and identical per pair,
    * so min() is a pure dedup with map-side partial aggregation.
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
  private def pairsFromBatchBands(
      index: DataFrame, batchBands: DataFrame): DataFrame = {
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
      .join(bandPayload(index).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        col("a.m").as("ma"), col("b.m").as("mb"),
        col("a.sarr").as("shka"), col("b.sarr").as("shkb"),
        col("a.n_shingles").as("na"), col("b.n_shingles").as("nb"))
      // in-row on the carried payload, not ShingleSets.verify's fetch
      // by id: the index side must never shuffle (see the scaladoc)
      .withColumn("common", size(array_intersect(col("shka"), col("shkb"))))
      .select(col("doc_a"), col("doc_b"),
        // est/jaccard are symmetric, so the a/b orientation of ma/mb and
        // shka/shkb (which crosses doc_a/doc_b when a.doc_id > b.doc_id)
        // cannot change either value
        expr(s"""CAST(aggregate(zip_with(ma, mb,
                |  (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
                |  0, (acc, v) -> acc + v) AS DOUBLE) / $K""".stripMargin)
          .as("minhash_est"),
        (col("common").cast("double") / (col("na") + col("nb") - col("common")))
          .as("jaccard"))
      .filter(col("jaccard") >= JaccardMin)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("minhash_est")).as("minhash_est"),
        min(col("jaccard")).as("jaccard"))
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
