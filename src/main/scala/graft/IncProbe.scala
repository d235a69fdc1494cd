package graft

import org.apache.spark.sql.functions._

/** Cost decomposition of the steady-state daily near-dedup path at a
  * probe tier — where do incremental_daily's seconds actually live?
  * Times nested slices separately so the deltas isolate each stage:
  * narrow/wide index scan floors, band derivation (md5 over 4 band
  * hashes x |index|), the slim candidate equi-join, the full verified
  * path, and the partitioned upsert write.
  *
  * This probe is how the round-13 verify restructure was found and
  * measured: the old two-sided verify joins exceeded the broadcast
  * threshold and sort-merge-shuffled the full wide index twice per
  * batch (13.6 s min at 1000×); the payload-carrying band join
  * (pairsFromBatchBands) took that to 8.8 s quiet and is shuffle-free
  * on the index side.
  *
  * The standing index builds ONCE into /tmp/inc-probe-lake and is
  * reused across runs (delete the directory to rebuild), so iterating
  * on the verify shape does not pay the multi-minute setup each time.
  *
  *   scripts/run_main.sh graft.IncProbe /tmp/docs1000x
  */
object IncProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/docs1000x")
    val spark = Tables.localSession(cores = 32, probeSplits = true)
    spark.sparkContext.setLogLevel("WARN")
    import queries.IncrementalDedupQueries._

    ProbeCorpus.assertScanParallel(dir)
    val docs = Tables.documents(spark, dir)
    // same shape as the sentinel op: the batch is the base copy's
    // doc_id % 5 == 4 slice — NEW docs, so the steady-state upsert's
    // globalKeys scan finds no prior partition to rewrite
    val batchPred = col("doc_id") < 10000000L && col("doc_id") % 5 === 4
    // one standing index per corpus (a 10000x run must not reuse the
    // 1000x index)
    val lakeRoot = new org.apache.hadoop.fs.Path(
      s"/tmp/inc-probe-lake-${new java.io.File(dir).getName}")
    val lake = s"$lakeRoot/sig"
    val fs = lakeRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(lake))) {
      println("[inc] building standing index (one-time setup)...")
      updateIndex(spark, signatures(docs.filter(!batchPred)), lake,
        ingestDate = Some("2026-08-12"))
    }

    def time(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[inc] $name%-16s ${(System.nanoTime() - t0) / 1e9}%8.2f s   ($r)")
    }

    val batchSigs = signatures(docs.filter(batchPred)).persist()
    batchSigs.count() // warm the cache outside the timed stages

    // reset the day-2 partition so the timed upsert is a fresh daily write
    fs.delete(new org.apache.hadoop.fs.Path(s"$lake/ingest_date=2026-08-13"), true)
    time("upsert_day")(
      updateIndex(spark, batchSigs, lake, ingestDate = Some("2026-08-13")))

    val index = spark.read.parquet(lake)
    (1 to 3).foreach { i =>
      time(s"scan_m[$i]")(Fold.digest(index.select(col("m"))))
      time(s"scan_wide[$i]")(
        Fold.digest(index.select(col("m"), col("sarr"), col("n_shingles"))))
      time(s"band_derive[$i]")(Fold.digest(bandRows(index)))
      val cand = bandRows(batchSigs.select(col("doc_id"), col("m"))).as("a")
        .join(bandRows(index).as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
            && col("a.doc_id") =!= col("b.doc_id"))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
        .distinct()
      time(s"cand[$i]")(cand.count())
      time(s"verify_full[$i]")(pairsForBatchSigs(index, batchSigs).count())
    }
    if (sys.env.contains("SPARK_GRAFT_INC_EXPLAIN")) {
      val df = pairsForBatchSigs(index, batchSigs)
      df.count()
      println(df.queryExecution.executedPlan.toString.take(8000))
    }
    batchSigs.unpersist()
    spark.stop()
  }
}
