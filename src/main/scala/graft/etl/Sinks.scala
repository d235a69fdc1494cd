package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent sinks over a parquet lake, reproducing the reference's two
  * MySQL write semantics (SURVEY.md §2.1 S7/S8, §8.3):
  *
  *  - upsert (`INSERT ... ON DUPLICATE KEY UPDATE`): last-writer-wins by
  *    key — full loads and the daily weather path
  *    (ref: etl/full_load/violation_etl_history.py:127-154,
  *     etl/full_load/weather_etl_history.py:90-114,
  *     etl/daily_load/weather_etl_daily.py:175-210);
  *  - insert-ignore (`INSERT IGNORE`): first-writer-wins — the daily
  *    violations path (ref: etl/daily_load/violation_etl_daily.py:281-311).
  *
  * Scale design:
  *  - insert-ignore never rewrites anything: one anti-join on the key
  *    (reading only the key column of the lake) and an append of the
  *    fresh rows. A re-run after a partial append self-heals — the
  *    anti-join skips whatever landed.
  *  - partitioned upsert merges and swaps ONLY the partitions the batch
  *    touches: existing rows of affected partitions (partition-pruned
  *    read) union the batch, keep-last per key, then a per-partition
  *    directory swap. A daily increment touching one month never
  *    rewrites history. By default the partition value must be stable
  *    per key (true for violations: month is derived from the id's
  *    date); `globalKeys = true` lifts that requirement by also merging
  *    the partitions a batch key previously lived in.
  *  - unpartitioned upsert rewrites the table with a crash-safe swap:
  *    write tmp → rename current aside → rename tmp in → delete old.
  *    No window where the table is deleted before its replacement exists.
  *    Because that rewrite is O(history) per batch, it is size-guarded:
  *    past `maxFullRewriteBytes` (default 4 GiB) it throws and demands
  *    either `partitionBy` (partition-scoped merge — the production path
  *    for large tables) or an explicit ceiling raise.
  *  - batch-internal duplicates resolve before the merge (keep-last for
  *    upsert / keep-first for insert-ignore by a stable tiebreak), making
  *    both ops idempotent: same batch twice ≡ once (DEPLOYMENT.md:244-249).
  *
  * Execution-consistency invariant: every path evaluates the batch plan
  * EXACTLY ONCE, so the key-uniqueness guarantee holds even for a
  * non-deterministic source (an HTTP pull that could return different
  * rows on re-execution). Small batches run a single action (the dedup
  * window rides the write); merge-path big batches persist across the
  * dup pre-check and the write; and big FIRST writes (bulk loads too
  * large to persist without re-creating the disk blowout the pre-check
  * exists to avoid) use write-then-verify — the batch is written once,
  * map-only, and the duplicate check runs against the WRITTEN parquet,
  * so the verdict is about the bytes that actually landed, never about
  * a different execution of the plan. Only when duplicates actually
  * landed does a keep-last/keep-first rewrite (reading the written tmp,
  * not the source) swap in. SinksExecOnceSpec pins the once-only
  * execution with a counting batch plan.
  *
  * Routing between the small and big paths reads PLAN STATISTICS (no
  * job): a frame under 256 MiB by `optimizedPlan.stats` is small. Both
  * DSv2 sources report statistics (`SupportsReportStatistics`), so a
  * daily pull plans at its real size and commits in one action; a scan
  * that reports none plans at Spark's unknown-size default and takes
  * the big-frame path.
  *
  * Corpus-scale batches merged into an EXISTING lake are the one shape
  * that still materializes the batch (a persist, spilling linearly to
  * executor disk — bounded by batch size, unlike the round-13 sort
  * blowout, but real at multi-TB). If even that is too much, stage the
  * batch yourself: one map-only parquet write, then call the sink on
  * the staged SCAN — deterministic and cache-free by construction (the
  * sink detects the replayable scan and skips its own persist entirely;
  * the write-then-verify path does exactly this internally for first
  * writes).
  */
object Sinks {

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The sink's internal lake reads run with partition-column TYPE
    * INFERENCE OFF: a numeric-looking string partition value ("09")
    * would otherwise read back as int 9, and the next merge would write
    * its rows under a NEW directory (month=9) beside the stale original
    * (month=09) — a silent fork of the partition. With inference off the
    * value round-trips verbatim; union-by-name coercion still accepts an
    * int-typed batch (string result, same directory names), so
    * consumer-facing reads (which may infer freely) are unaffected.
    */
  private def readRaw(spark: SparkSession, path: String, mergeSchema: Boolean): DataFrame = {
    val k = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    // inference happens eagerly at relation resolution, so scoping the
    // conf around the read call is sufficient
    try spark.read.option("mergeSchema", mergeSchema.toString).parquet(path)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  // mergeSchema: a lake written by batches whose schema evolved (new
  // columns appearing over time) reads as the union schema, older files
  // null-filling the columns they predate
  private def readLake(spark: SparkSession, path: String): Option[DataFrame] =
    if (LakeFs.nonEmptyDataDir(spark, path))
      Some(readRaw(spark, path, mergeSchema = true))
    else None

  /** Encode a partition rel path ("year=2020/month=09") into one path
    * component for an aside name. `%` is escaped BEFORE `/` becomes
    * `%2F`: Hive's own path escaping writes a literal `/` inside a
    * partition VALUE as `%2F` too (e.g. value "2024/09" → dir
    * "month=2024%2F09"), so without the `%`→`%25` step the separator
    * would be indistinguishable from value bytes and [[sweepLeftovers]]
    * would decode a value-escape as a path split, look up a nonexistent
    * target, and refuse a legitimately sweepable aside forever.
    */
  private def encodeRel(rel: String): String =
    rel.replace("%", "%25").replace("/", "%2F")

  /** Inverse of [[encodeRel]] (separators first, then the `%` escape). */
  private def decodeRel(encoded: String): String =
    encoded.replace("%2F", "/").replace("%25", "%")

  private def renameOrThrow(fs: FileSystem, from: Path, to: Path): Unit =
    // Hadoop reports most rename failures by returning false; proceeding
    // after a false would nest the replacement inside the stale target
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"rename failed: $from -> $to")

  /** Swap `target` with `replacement` (both directories): rename target
    * aside (under `asideParent` — NEVER inside a directory Spark scans as
    * a table, or the leftover reads as a duplicate partition after a
    * crash), rename replacement in, delete the aside copy. At no point is
    * the data absent without a recoverable copy — and [[sweepLeftovers]]
    * preserves that copy after a crash: it refuses to delete an aside
    * whose target dir is missing. `asideBase` names the aside for that
    * check (defaults to the target's last path component; nested
    * partition swaps pass the FULL relative path through [[encodeRel]],
    * so the sweeper can locate the exact target dir).
    */
  private def swapDirs(
      fs: FileSystem, target: Path, replacement: Path, asideParent: Path,
      asideBase: Option[String] = None): Unit = {
    val aside = new Path(asideParent,
      asideBase.getOrElse(target.getName) +
        "._old_" + java.util.UUID.randomUUID.toString.take(8))
    val hadOld = fs.exists(target)
    if (hadOld) {
      fs.mkdirs(asideParent)
      renameOrThrow(fs, target, aside)
    }
    fs.mkdirs(target.getParent)
    renameOrThrow(fs, replacement, target)
    if (hadOld && !fs.delete(aside, true))
      throw new java.io.IOException(s"delete failed: $aside")
  }

  /** Keep one row per key: highest `_precedence`, then tiebreak desc. */
  private def keepLast(
      df: DataFrame, keys: Seq[String], tiebreak: Option[String]): DataFrame = {
    val order = col("_precedence").desc +: tiebreak.map(c => col(c).desc).toSeq
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("_rn") === 1)
      .drop("_rn", "_precedence")
  }

  /** Plan-stats size of a frame — no action, no job. Unknown sizes
    * (e.g. a V2 source without statistics) report huge, which routes
    * them to the conservative big-frame path.
    */
  private def statsBytes(df: DataFrame): BigInt =
    BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)

  /** Persist `df` unless the CALLER already holds it cached, returning
    * whether THIS call persisted (and so owns the unpersist). Spark's
    * cache has no refcount: an unconditional persist/unpersist pair
    * here would silently CLOBBER a caller's cache of the same plan —
    * e.g. CorpusPipeline.dedupNearIncremental persists its signature
    * frame across updateIndex (which lands in this sink) AND the pair
    * detection that follows; the sink dropping that cache re-executes
    * the batch source downstream, exactly the double evaluation the
    * caller persisted to prevent.
    */
  private def persistIfNotCached(df: DataFrame): Boolean =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(); true
    } else false

  /** True when re-executing `df` is deterministic AND cheap: every leaf
    * reads files (or an existing cache), every expression is
    * deterministic, and no shuffle-producing operator sits upstream.
    * Two executions of such a plan read the same immutable bytes
    * through the same pure projections, so the multi-action merge paths
    * need no consistency persist for it — and skipping the persist is
    * also the FASTER choice: the extra actions (dup pre-check,
    * partition probe) are column-pruned, so they re-scan only the
    * columns they read (the CorpusPipeline.waist receipt), while a
    * persist materializes every column of a possibly corpus-scale
    * batch to executor storage. This is what makes the "stage the bulk
    * batch to parquet, then sink the scan" pattern genuinely
    * cache-free. Anything non-file (HTTP source RDDs, the arcgis and
    * visualcrossing DSv2 scans, local batches, mapPartitions lambdas) or
    * non-deterministic keeps the persist.
    */
  private[etl] def replayableScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val plan = df.queryExecution.optimizedPlan
    val shapeOk = plan.collectFirst {
      case _: lp.Join => (); case _: lp.Aggregate => ()
      case _: lp.Window => (); case _: lp.Generate => ()
      case _: lp.Sort => (); case _: lp.Deduplicate => ()
    }.isEmpty
    // typed matches, not getSimpleName strings: a Spark upgrade renaming
    // either class is a compile error here, never a silent fall-through
    // to the conservative (persist-everything) branch
    def leafOk(l: lp.LogicalPlan): Boolean = l match {
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation => true
      // only FILE-backed V2 scans: each execution of an arcgis or
      // visualcrossing scan is a fresh HTTP pull
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // a MEMORY_ONLY cache can evict blocks and recompute them from
        // the ORIGINAL source between the dup pre-check and the write —
        // reintroducing the two-execution inconsistency this predicate
        // exists to rule out. Only a disk-backed cache replays stably.
        r.cacheBuilder.storageLevel.useDisk
      case _ => false
    }
    shapeOk &&
      plan.collect { case p => p }
        .forall(_.expressions.forall(_.deterministic)) &&
      plan.collectLeaves().forall(leafOk)
  }

  /** True when any key occurs more than once — the keys-only duplicate
    * pre-check shared by every skip gate (column-pruned, map-side
    * combinable, one narrow job).
    */
  private def hasDupKeys(df: DataFrame, keys: Seq[String]): Boolean = df
    .groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
    .filter(col("_n") > 1).limit(1).count() > 0

  /** Below this, dedup directly: the window on a small frame costs less
    * than the pre-check's extra job dispatch. Above it, one narrow
    * keys-only job is noise next to the full-width shuffle it can skip.
    * A system property overrides for tests (set to 0 to force the
    * pre-check path onto the row-scale law fixtures).
    */
  private def DedupPrecheckMinBytes: BigInt = BigInt(
    sys.props.getOrElse("graft.dedup.precheck.min.bytes", (256L << 20).toString))

  /** [[keepLast]], skipped when `merged` provably has no duplicate keys.
    *
    * The window dedup shuffles and SORTS the full-width merged frame
    * even when every key is already unique — for an initial bulk load
    * that is a whole-table shuffle bought for nothing (a 50M-row
    * signature-index build spilled past 70 GB of local disk before this
    * check existed; with it the load is a map-only streaming write).
    * The pre-check is a keys-only aggregation — column-pruned to the
    * key columns, combinable map-side, hundreds of MB where the window
    * moves tens of GB. It costs one extra job per upsert, which is NOT
    * noise for the reference's row-scale daily tables (the bench's
    * upsert-family queries regressed 20–30% when the check ran
    * unconditionally), so frames under [[DedupPrecheckMinBytes]] by
    * plan stats keep the old direct-window path. Any duplicate at all
    * falls back to the exact window; skipping on a provably-clean
    * frame returns identical rows by definition.
    */
  private def keepLastIfNeeded(
      merged: DataFrame, keys: Seq[String], tiebreak: Option[String]): DataFrame = {
    if (statsBytes(merged) < DedupPrecheckMinBytes)
      return keepLast(merged, keys, tiebreak)
    if (hasDupKeys(merged, keys)) keepLast(merged, keys, tiebreak)
    else merged.drop("_precedence")
  }

  /** Write-then-verify for a big FIRST write (no existing lake): write
    * `batch` once to a fresh tmp dir (map-only — no window, no persist),
    * run the keys-only duplicate check against the WRITTEN parquet, and
    * only when duplicates actually landed rewrite tmp through `dedup`
    * (which reads the written data — deterministic by construction) into
    * a second tmp. Returns the directory the caller swaps in.
    *
    * This is what makes the pre-check skip sound for non-deterministic
    * sources: a persisted-batch pre-check verdict describes ONE
    * execution, but an unpersisted batch recomputed for the write could
    * contain different rows. Checking the written bytes removes the gap
    * at the cost of one column-pruned parquet scan of the keys — noise
    * next to the bulk write itself — while the clean path stays exactly
    * the map-only shape that replaced the 70 GB window spill (round 13).
    */
  private def writeVerified(
      spark: SparkSession, batch: DataFrame, path: String, keys: Seq[String],
      partitionBy: Seq[String], sortBy: Seq[String], maxRecordsPerFile: Long,
      dedup: DataFrame => DataFrame): Path = {
    val fs = fsFor(spark, path)
    def write(df: DataFrame): Path = {
      val tmp = path + "._tmp_" + java.util.UUID.randomUUID.toString.take(8)
      val w = capped(sorted(df, sortBy).write.mode(SaveMode.Overwrite),
        maxRecordsPerFile)
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
      new Path(tmp)
    }
    val first = write(batch)
    // an empty batch writes no data files (nothing to dedup, and the
    // schema-less dir can't be read back)
    if (!LakeFs.nonEmptyDataDir(spark, first.toString)) return first
    val written = readRaw(spark, first.toString, mergeSchema = false)
    if (!hasDupKeys(written, keys)) first
    else {
      // peak disk on this (rare: dirty BULK load) path is 2x the batch —
      // the rewrite must read `first` so it cannot be deleted earlier,
      // and a crash between the two writes orphans `first` beside the
      // table (same leftover class as any interrupted tmp write here)
      val second = write(dedup(written))
      if (!fs.delete(first, true))
        throw new java.io.IOException(s"delete failed: $first")
      second
    }
  }

  /** Sort rows within each write task so parquet row-group min/max
    * statistics become selective — the data-skipping layout knob: a scan
    * filtered on a `sortBy` column prunes row groups instead of reading
    * them (the poor man's Z-order; one column is usually the right call).
    */
  private def sorted(df: DataFrame, sortBy: Seq[String]): DataFrame =
    if (sortBy.isEmpty) df else df.sortWithinPartitions(sortBy.map(col): _*)

  /** File-size hygiene at scale: cap records per output file so one fat
    * task can't emit a multi-GB file (0 = no cap). Listing cost, scan
    * parallelism, and retry granularity all key off file size at 100 TB.
    */
  private def capped(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      maxRecordsPerFile: Long) =
    if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile) else w

  /** Last-writer-wins upsert of `batch` into the lake table at `path`.
    * One shuffle on `keys`; with `partitionBy` given, only the batch's
    * partitions are read, merged, and swapped.
    *
    * `globalKeys = true` extends the partition-scoped merge to keys whose
    * partition value CHANGED (e.g. a violation's date corrected into
    * another month): a narrow key+partition scan of the lake, semi-joined
    * against the broadcast batch keys, finds the partitions holding a
    * previous version of any batch key; those partitions join the merge
    * so the stale copy is dropped (and a partition left empty by the move
    * is deleted). Costs one extra column-pruned scan of the lake's key
    * column — leave it off when keys can't move (the reference's
    * month-from-id layout), turn it on when they can.
    */
  /** Default ceiling for the O(history) whole-table rewrite: an
    * unpartitioned upsert into a lake larger than this throws instead of
    * silently rewriting everything per batch. The reference's weather
    * table is ≤488 rows — nowhere near it; a 100 TB fact table must use
    * `partitionBy` (partition-scoped merge) or explicitly raise the
    * ceiling to state "yes, rewrite it all".
    */
  val DefaultMaxFullRewriteBytes: Long = 4L << 30 // 4 GiB

  def upsert(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      tiebreak: Option[String] = None,
      globalKeys: Boolean = false,
      sortBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L,
      maxFullRewriteBytes: Long = DefaultMaxFullRewriteBytes): Unit = {
    val fs = fsFor(spark, path)
    val tableRoot = new Path(path)

    if (partitionBy.isEmpty || !LakeFs.nonEmptyDataDir(spark, path)) {
      // whole-table merge + crash-safe swap (or first write).
      // Scale guard: this branch rewrites the ENTIRE existing table —
      // O(history) per batch. Fine for small dimension tables (the
      // reference's weather history); catastrophic as an accident on a
      // large fact table, so past the ceiling it fails fast with the fix.
      if (partitionBy.isEmpty && fs.exists(tableRoot)) {
        val size = fs.getContentSummary(tableRoot).getLength
        if (size > maxFullRewriteBytes) throw new IllegalStateException(
          s"unpartitioned upsert would rewrite the whole table at $path " +
            s"($size bytes > ceiling $maxFullRewriteBytes). Pass partitionBy " +
            "for a partition-scoped merge, or raise maxFullRewriteBytes to " +
            "opt in to the full rewrite.")
      }
      val lake = readLake(spark, path)
      val newRows = batch.withColumn("_precedence", lit(1))
      // the first-write gate reads the SAME frame keepLastIfNeeded would
      // gate on (merged == newRows when the lake is absent): gating on
      // bare `batch` left a stats band (batch under the threshold,
      // merged over it) where a big first write slipped into the else
      // branch unpersisted and keepLastIfNeeded's pre-check became a
      // second execution of the batch plan
      if (lake.isEmpty && statsBytes(newRows) >= DedupPrecheckMinBytes) {
        // big FIRST write (bulk load): write-then-verify — one execution
        // of the batch plan, dup check on the written bytes, rewrite only
        // if duplicates actually landed (see writeVerified)
        val tmp = writeVerified(spark, batch, path, keys, partitionBy,
          sortBy, maxRecordsPerFile,
          w => keepLast(w.withColumn("_precedence", lit(1)), keys, tiebreak))
        swapDirs(fs, tableRoot, tmp, tableRoot.getParent)
      } else {
        val merged = lake match {
          case None => newRows
          case Some(existing) =>
            // schema evolution: a batch may add columns (existing rows
            // null-fill them) or omit columns the lake has (batch rows
            // null-fill — the upserted row carries exactly what the batch
            // declared, like ON DUPLICATE KEY UPDATE of every batch column)
            existing.withColumn("_precedence", lit(0))
              .unionByName(newRows, allowMissingColumns = true)
        }
        // when the dup pre-check will run (big merged frame), it adds an
        // action before the write and the batch plan would execute twice.
        // Persist the batch so the source (possibly straight off an HTTP
        // pull) evaluates once and the check's verdict describes the same
        // rows the write ships; cache substitution is plan-based, so the
        // merged plan reads it. Small frames (incl. any small first
        // write) skip the check entirely and keep the one-action path.
        // A batch the CALLER already persisted is left alone either way.
        val ownPersist = lake.isDefined &&
          statsBytes(merged) >= DedupPrecheckMinBytes &&
          !replayableScan(batch) && persistIfNotCached(batch)
        try {
          val tmp = path + "._tmp_" + java.util.UUID.randomUUID.toString.take(8)
          val w = capped(sorted(keepLastIfNeeded(merged, keys, tiebreak), sortBy)
            .write.mode(SaveMode.Overwrite), maxRecordsPerFile)
          (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(tmp)
          swapDirs(fs, tableRoot, new Path(tmp), tableRoot.getParent)
        } finally if (ownPersist) batch.unpersist()
      }
    } else {
      // partition-scoped merge: touch only the partitions in the batch
      // (one or MORE partition columns — e.g. year/month). The batch plan
      // feeds both the affected-partition probe and the merge write —
      // persist so an expensive upstream (API fetch + transform)
      // evaluates once. A caller-held cache is reused, never clobbered.
      val b = batch
      val ownPersist = !replayableScan(b) && persistIfNotCached(b)
      try {
        val newRows = b.withColumn("_precedence", lit(1))
        val pcols = partitionBy.map(col)
        // partition values normalize to their STRING form at collection
        // time — the sink's internal reads keep partition columns as
        // strings (see readRaw), so string-vs-string predicates stay
        // partition-prunable whatever type the batch declared
        def tupOf(r: org.apache.spark.sql.Row): Seq[String] =
          partitionBy.indices.map(i =>
            if (r.isNullAt(i)) null else r.get(i).toString)
        val batchParts = b.select(pcols: _*).distinct().collect().map(tupOf)
        // mergeSchema (as readLake): rewritten partitions keep evolved columns
        val existing = readRaw(spark, path, mergeSchema = true)
        // with globalKeys, partitions holding a previous version of a
        // batch key are merged too — their stale copies lose keepLast
        val staleParts: Array[Seq[String]] =
          if (!globalKeys) Array.empty
          else existing.select((partitionBy ++ keys).distinct.map(col): _*)
            .join(broadcast(b.select(keys.map(col): _*).distinct()), keys, "left_semi")
            .select(pcols: _*).distinct().collect().map(tupOf)
        val affected: Seq[Seq[String]] = (batchParts ++ staleParts).distinct.toSeq
        // disjunction of per-partition-tuple conjunctions: IsNull matches
        // a __HIVE_DEFAULT_PARTITION__ dir, equality the rest — both
        // participate in partition pruning, so the read below only
        // lists/touches the affected directories
        val partPred =
          if (affected.isEmpty) lit(false)
          else affected.map { tup =>
            partitionBy.zip(tup).map {
              case (c, null) => col(c).isNull
              case (c, v) => col(c) === lit(v)
            }.reduce(_ && _)
          }.reduce(_ || _)
        val merged = keepLastIfNeeded(
          existing.filter(partPred).withColumn("_precedence", lit(0))
            .unionByName(newRows, allowMissingColumns = true),
          keys, tiebreak)
        val tmp = path + "._tmp_" + java.util.UUID.randomUUID.toString.take(8)
        capped(sorted(merged, sortBy).write.mode(SaveMode.Overwrite),
          maxRecordsPerFile).partitionBy(partitionBy: _*).parquet(tmp)
        // swap exactly the LEAF partition dirs the merge produced (nested
        // one level per partition column; names carry Hive-escaped values
        // — no re-encoding here); asides live OUTSIDE the table root so a
        // crash never leaves a directory Spark would discover as a bogus
        // partition
        val asideRoot = new Path(tableRoot.getParent,
          tableRoot.getName + "._aside_" + java.util.UUID.randomUUID.toString.take(8))
        def leafRels(base: Path, cols: Seq[String], prefix: String): Seq[String] =
          if (cols.isEmpty) Seq(prefix)
          else fs.listStatus(base)
            .filter(s => s.isDirectory && s.getPath.getName.startsWith(cols.head + "="))
            .toSeq.flatMap { s =>
              val rel = if (prefix.isEmpty) s.getPath.getName
                        else prefix + "/" + s.getPath.getName
              leafRels(s.getPath, cols.tail, rel)
            }
        val producedRels = leafRels(new Path(tmp), partitionBy, "")
        producedRels.foreach { rel =>
          // aside carries the FULL rel ("year=2020%2Fmonth=09._old_*"),
          // not just the leaf name: after a crash mid-swap sweepLeftovers
          // must find the exact target dir to decide whether the aside is
          // the only surviving copy
          swapDirs(fs, new Path(path, rel), new Path(tmp, rel), asideRoot,
            Some(encodeRel(rel)))
        }
        // globalKeys: an affected partition whose rows ALL moved elsewhere
        // produces no output dir — its stale directory is deleted outright
        // (dir names via Spark's own Hive escaping, so values round-trip)
        if (globalKeys) {
          import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          val producedSet = producedRels.toSet
          affected.map { tup =>
            partitionBy.zip(tup).map {
              case (c, null) => s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
              case (c, v) => s"$c=${ExternalCatalogUtils.escapePathName(v.toString)}"
            }.mkString("/")
          }.filterNot(producedSet).foreach(n => fs.delete(new Path(path, n), true))
        }
        fs.delete(new Path(tmp), true)
        fs.delete(asideRoot, true)
      } finally if (ownPersist) b.unpersist()
    }
  }

  /** Small-file compaction — the companion of append-only ingestion: a
    * year of daily insert-ignore appends leaves one file per day per
    * partition, and scan/listing cost grows with file count, not data.
    * Rewrites every directory holding more than `maxFiles` parquet files
    * into `targetFiles` files via the crash-safe swap; directories at or
    * below the threshold are untouched.
    */
  def compact(
      spark: SparkSession,
      path: String,
      partitioned: Boolean = false,
      maxFiles: Int = 4,
      targetFiles: Int = 1): Unit = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    if (!LakeFs.nonEmptyDataDir(spark, path)) return

    def parquetCount(dir: Path): Int =
      fs.listStatus(dir).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))

    def rewrite(dir: Path): Unit = {
      // tmp AND the swap aside live OUTSIDE the table root (siblings of
      // it) under table-prefixed names: a partition dir's aside named
      // after the PARTITION ("month=09._old_*") would be invisible to
      // sweepLeftovers' <table>-prefix match, so a crash between the
      // aside rename and its delete would leak it forever
      val tag = java.util.UUID.randomUUID.toString.take(8)
      val tmp = new Path(root.getParent, root.getName + "._compact_" + tag)
      val asideRoot = new Path(root.getParent, root.getName + "._aside_" + tag)
      // mergeSchema: appends that added a column must not lose it here
      readRaw(spark, dir.toString, mergeSchema = true)
        .coalesce(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
      swapDirs(fs, dir, tmp, asideRoot)
      fs.delete(asideRoot, true) // empty (or absent) after a clean swap
      ()
    }

    if (!partitioned) {
      if (parquetCount(root) > maxFiles) rewrite(root)
    } else {
      fs.listStatus(root)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .filter(s => parquetCount(s.getPath) > maxFiles)
        .foreach(s => rewrite(s.getPath))
    }
  }

  /** Delete leftover scratch directories an INTERRUPTED sink call left
    * beside the table: `<table>._tmp_*` (a write that never swapped in),
    * `<table>._aside_*` (a partition-swap aside whose delete was cut
    * short), `<table>._compact_*` (an unfinished compaction rewrite),
    * and `<table>._old_*` (an unpartitioned swap's aside). None of
    * these are ever scanned as table data — they live OUTSIDE the table
    * root by design — so correctness never needs this; disk does: a
    * crashed bulk load orphans a batch-sized tmp, and at 100 TB scale
    * leftovers compound per incident.
    *
    * Staleness is judged by the NEWEST modification time anywhere
    * inside the entry (one recursive listing of a scratch-sized dir,
    * not the table): an in-flight long write keeps bumping leaf mtimes
    * under `_temporary` even though the tmp ROOT's mtime goes stale
    * minutes after job start, so a root-mtime filter would sweep a
    * live >`minAgeMs` bulk load mid-job. Only entries whose newest
    * mtime is older than `minAgeMs` (default 1 h) are removed. Run it
    * when no writer is active on the table (the sinks' existing
    * no-concurrent-writers contract); the age filter is a belt, not a
    * lock — and on object stores whose mtimes are unreliable, the
    * no-active-writer rule is the ONLY protection. Returns the deleted
    * paths.
    *
    * Crash-recovery guard: a crash BETWEEN swapDirs' rename-aside and
    * rename-in leaves the target (table or partition dir) ABSENT, with
    * the data living only in the aside and its replacement only in a
    * tmp — the one state where these entries are recovery copies, not
    * garbage. Sweeping them would destroy every copy of that data, so
    * an entry holding data is deleted only when the directory it
    * duplicates still exists with data: `._old_*`/`._tmp_*`/
    * `._compact_*` require the table root alive; each `<rel>._old_*`
    * child of an `._aside_*` requires its partition dir `<rel>` alive
    * (`%2F` in the name decodes to `/` for nested partitions). Entries
    * failing the check are skipped with a warning — recover by renaming
    * the aside (old version) or the tmp (merged version) back in, after
    * which the next sweep clears the rest. `force = true` bypasses the
    * guard for deliberate abandon-the-data cleanup.
    */
  def sweepLeftovers(
      spark: SparkSession, path: String,
      minAgeMs: Long = 60L * 60 * 1000,
      force: Boolean = false): Seq[String] = {
    val fs = fsFor(spark, path)
    val root = new Path(path)
    val parent = root.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val prefixes = Seq("._tmp_", "._aside_", "._compact_", "._old_")
      .map(root.getName + _)
    val cutoff = System.currentTimeMillis() - minAgeMs
    def newestMtime(p: Path): Long = {
      val self = fs.getFileStatus(p)
      if (!self.isDirectory) self.getModificationTime
      else {
        // a dir removed between its stat and its listing (a committer
        // moving task output) is a writer at work: read it as fresh. The
        // local FS reports it as a plain IOException, not FileNotFound.
        val kids =
          try fs.listStatus(p).toSeq
          catch {
            case _: java.io.IOException if !fs.exists(p) =>
              return System.currentTimeMillis()
          }
        (self.getModificationTime +: kids.map(s => newestMtime(s.getPath))).max
      }
    }
    // any real payload anywhere inside (metadata like _SUCCESS/_temporary
    // markers is not worth protecting)
    def hasData(p: Path): Boolean = {
      val self = fs.getFileStatus(p)
      if (!self.isDirectory)
        !p.getName.startsWith("_") && !p.getName.startsWith(".")
      else fs.listStatus(p).exists(s =>
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".") &&
          (s.isFile || hasData(s.getPath)))
    }
    lazy val rootAlive = LakeFs.nonEmptyDataDir(spark, path)
    // the dir this aside duplicates, from its name: "<base>._old_*" where
    // base is the table name (whole-table swap) or the encoded rel of a
    // partition leaf ("month=09", nested "year=2020%2Fmonth=09").
    // lastIndexOf, not indexOf: Hive escaping leaves '.' and '_' raw, so
    // a partition VALUE may itself contain the literal "._old_" — only
    // the FINAL occurrence (ours, followed by the uuid) splits correctly;
    // splitting at an earlier one would test the wrong target and could
    // approve deleting the only surviving copy.
    def targetAlive(asideName: String): Boolean = {
      val base = asideName.substring(0, asideName.lastIndexOf("._old_"))
      if (base == root.getName) rootAlive
      else {
        val target = new Path(root, decodeRel(base))
        fs.exists(target) && hasData(target)
      }
    }
    def safeToSweep(entry: Path): Boolean = {
      val n = entry.getName
      if (!hasData(entry)) true
      else if (n.startsWith(root.getName + "._aside_"))
        fs.listStatus(entry).forall { c =>
          !hasData(c.getPath) ||
            (c.getPath.getName.contains("._old_") && targetAlive(c.getPath.getName))
        }
      else if (n.startsWith(root.getName + "._old_")) targetAlive(n)
      else rootAlive // ._tmp_/._compact_: a replacement copy — only
                     // redundant while the original still exists
    }
    // a concurrent sink/compact legitimately creates AND removes its own
    // scratch while a sweep runs (different tools, same table — allowed;
    // only concurrent WRITERS are excluded): an entry vanishing between
    // the listing and its stat/delete is simply no longer ours to sweep
    fs.listStatus(parent).toSeq
      .filter(s => prefixes.exists(s.getPath.getName.startsWith))
      .flatMap { s =>
        try {
          if (newestMtime(s.getPath) >= cutoff) None
          else if (!force && !safeToSweep(s.getPath)) {
            System.err.println(
              s"[sweepLeftovers] skipping ${s.getPath}: it may hold the only " +
                "surviving copy of table data (its target dir is missing or " +
                "empty — a crashed swap). Recover by renaming it back in, or " +
                "pass force = true to abandon it.")
            None
          } else {
            if (!fs.delete(s.getPath, true) && fs.exists(s.getPath))
              throw new java.io.IOException(s"delete failed: ${s.getPath}")
            Some(s.getPath.toString)
          }
        } catch { case _: java.io.FileNotFoundException => None }
      }
  }

  /** First-writer-wins append: rows whose key already exists in the lake
    * are dropped (left-anti join on the key), the rest append as new
    * files — nothing existing is ever rewritten.
    */
  def insertIgnore(
      spark: SparkSession,
      batch: DataFrame,
      path: String,
      keys: Seq[String],
      partitionBy: Seq[String] = Nil,
      tiebreak: Option[String] = None,
      sortBy: Seq[String] = Nil,
      maxRecordsPerFile: Long = 0L): Unit = {
    // batch-internal dedup: keep-first by tiebreak asc (stable). On a
    // big batch (plan stats), a keys-only pre-check first — the window
    // shuffles and sorts the full batch, bought for nothing on a clean
    // bulk pull. Against an existing lake the batch persists across
    // check+write so an HTTP source is pulled once and the verdict
    // describes the rows that ship; a big FIRST write skips the persist
    // (materializing a corpus-scale frame is its own disk blowout) and
    // uses write-then-verify instead — the check runs on the written
    // bytes, so non-determinism cannot slip duplicates past the skip.
    // Small daily batches keep the old direct one-action path.
    def keepFirst(df: DataFrame): DataFrame = {
      val order = tiebreak.map(c => col(c).asc).toSeq :+ lit(1).asc
      df.withColumn("_rn", row_number().over(
          Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
        .filter(col("_rn") === 1)
        .drop("_rn")
    }
    val willCheck = statsBytes(batch) >= DedupPrecheckMinBytes
    // only the lake's keys feed the anti-join: read them with the batch's
    // key schema, so no footer-inference job runs (a schema-less or
    // mergeSchema read opens footers first), and a lake whose key column
    // has another physical type fails the read instead of being coerced
    // into the join
    val keyCols = keys.map(col)
    val lakeKeys =
      if (!LakeFs.nonEmptyDataDir(spark, path)) None
      else Some(spark.read.schema(batch.select(keyCols: _*).schema).parquet(path)
        .select(keyCols: _*))
    if (willCheck && lakeKeys.isEmpty) {
      val fs = fsFor(spark, path)
      val tableRoot = new Path(path)
      val tmp = writeVerified(spark, batch, path, keys, partitionBy,
        sortBy, maxRecordsPerFile, keepFirst)
      swapDirs(fs, tableRoot, tmp, tableRoot.getParent)
    } else {
      val ownPersist = willCheck &&
        !replayableScan(batch) && persistIfNotCached(batch)
      try {
        val hasDups = willCheck && hasDupKeys(batch, keys)
        val dedupedBatch =
          if (willCheck && !hasDups) batch else keepFirst(batch)
        val fresh = lakeKeys match {
          case None => dedupedBatch
          case Some(existing) => dedupedBatch.join(existing, keys, "left_anti")
        }
        val w = capped(sorted(fresh, sortBy).write.mode(SaveMode.Append),
          maxRecordsPerFile)
        (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
      } finally if (ownPersist) batch.unpersist()
    }
  }
}
