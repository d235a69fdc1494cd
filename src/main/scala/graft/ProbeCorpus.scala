package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Builds the adversarial replicated probe corpus Bench and the Sentinel
  * run against: an sf dir's documents/embeddings/events replicated N× under
  * offset ids, so every document gains N−1 IDENTICAL twins. Near-dup
  * OUTPUT then grows ~quadratically in the copy count (C(N,2) pairs per
  * group) while candidate GENERATION must stay bounded — the exact
  * failure mode that kills naive all-pairs designs at scale.
  *
  * Previously built ad hoc (SURVEY §10.1); now checked in so any round
  * can regenerate /tmp/docs10x (or a 100× corpus) reproducibly:
  *
  *   sbt "runMain graft.ProbeCorpus /root/testdata/sf0.1 /tmp/docs10x 10"
  *   sbt "runMain graft.ProbeCorpus /root/testdata/sf0.1 /tmp/docs100x 100"
  *
  * Offsets are multiples of 10^7 (doc/vec/event ids in testdata are far
  * smaller), matching the in-query fixture convention (e.g.
  * qPhashNeardup's +1e7 twins).
  */
object ProbeCorpus {

  /** Tables [[build]] replicates under offset ids (the rest copy through
    * unchanged — dimension-shaped, tiny, usually broadcast).
    */
  private[graft] val ReplicatedTables: Set[String] =
    Set("documents", "embeddings", "events", "customer")

  /** Minimum part-file count a replicated probe table must span.
    *
    * Round 12's instrument bug: replicated content compresses ~100x, so
    * a corpus written as ONE parquet file lands under a single input
    * split and every pre-shuffle stage of every receipt runs on one
    * core — three rounds of 100x/1000x numbers measured one task.
    * [[build]] writes 64 files; this floor (checked by
    * [[assertScanParallel]] before any receipt is recorded or gated)
    * makes the invariant structural, so a future build change or parquet
    * writer upgrade can't silently reintroduce the bug. 16, not 64: the
    * guard targets "effectively serial", not the exact write fan-out.
    */
  private[graft] val MinScanFiles = 16

  private[graft] def partFileCount(dir: java.io.File): Int =
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  /** Fail fast if any replicated probe table present under `corpus` spans
    * fewer than `minFiles` parquet part-files (see [[MinScanFiles]]).
    */
  def assertScanParallel(corpus: String, minFiles: Int = MinScanFiles): Unit =
    ReplicatedTables.foreach { t =>
      val dir = new java.io.File(s"$corpus/$t.parquet")
      if (dir.isDirectory) {
        val n = partFileCount(dir)
        require(n >= minFiles,
          s"probe corpus $corpus/$t.parquet spans only $n part-file(s) " +
            s"(need >= $minFiles): its scan stages would run effectively " +
            "serial and every timing receipt would measure one core " +
            "(round-12 instrument bug). Rebuild via ProbeCorpus.")
      }
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/docs10x")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset (e.g.
    // "documents,customer" for a 1000x corpus that skips the 100M-row
    // events write when the target ops never read events)
    val onlyTables = args.lift(3).map(_.split(",").toSet)
    val spark = Tables.localSession(cores = 16, probeSplits = true)
    build(spark, src, out, copies, onlyTables)
    spark.stop()
  }

  /** Build the replicated corpus with an existing session — also called
    * by [[Sentinel]] to regenerate a missing gate corpus.
    */
  def build(spark: SparkSession, src: String, out: String, copies: Int,
      onlyTables: Option[Set[String]]): Unit = {
    def wanted(t: String) = onlyTables.forall(_(t))

    def replicate(table: String, idCols: Seq[String]): Unit = if (wanted(table)) {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val offsets = spark.range(copies).select((col("id") * 10000000L).as("_off"))
      val rep = base.crossJoin(broadcast(offsets))
      val bumped = idCols.foldLeft(rep) { case (df, c) =>
        df.withColumn(c, col(c) + col("_off"))
      }.drop("_off")
      // 64 output files, not one: replicated content compresses ~100x,
      // so a single-file corpus lands under one 128 MB split and every
      // scan stage the probes time runs on ONE core (round 12 — the
      // 1000x signature pass was a 49 MB single file). One file per
      // split (localSession sets 1 MB splits / zero open cost) restores
      // the scan parallelism a real deployment would have.
      bumped.repartition(64)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$table.parquet")
      println(s"[corpus] $table x$copies -> ${bumped.count()} rows")
    }

    replicate("documents", Seq("doc_id"))
    replicate("embeddings", Seq("vec_id"))
    // events keep their user/item structure but get distinct event ids —
    // time-series ops see N interleaved replicas of the same history
    replicate("events", Seq("event_id"))
    // customers replicate too (offset keys, IDENTICAL names): the ER ops
    // (fuzzy_match / er_clusters / golden_record) then face N-member
    // identical-name groups — the adversarial case their identical-name
    // collapse exists for. Offsets are ≡ 0 mod 20, so the every-20th
    // dirty-probe selection keeps its density under replication.
    replicate("customer", Seq("c_custkey"))
    // dimension-shaped tables copy through unchanged (ops that join them
    // from a probe dir expect the original keys)
    Seq("region", "nation", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        val p = s"$src/$t.parquet"
        if (wanted(t) && new java.io.File(p).exists()) {
          spark.read.parquet(p).write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")
        }
      }
  }
}
