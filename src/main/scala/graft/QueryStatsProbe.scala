package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import scala.collection.mutable.ArrayBuffer

/** Per-query cost breakdown — the optimization round's "measure first"
  * instrument (spark_optimization_guide §1): runs named queries with the
  * bench's exact fold action under a stage listener and prints, per query,
  * wall seconds, stage/task counts, summed executor run time, shuffle
  * read/write bytes and record counts, input bytes, spill, and the top
  * stages by executor time — so a reader can tell scan-bound from
  * shuffle-bound from dispatch-bound before touching the plan.
  *
  * Also prints the physical plan's Exchange count per query (cheap plan
  * audit without a full explain dump), and splits input bytes between the
  * BUILD phase (eager jobs while the query constructs its frame) and the
  * FOLD phase. Input bytes in the fold for a source the build already
  * scanned into a persist mean that persist recomputed from source — a
  * cache miss the plan audit can't see.
  *
  *   scripts/run_main.sh graft.QueryStatsProbe q_dedup_agreement q_sim_ivf
  *   SPARK_GRAFT_PROBE_SAMPLES=3 scripts/run_main.sh graft.QueryStatsProbe --all
  */
object QueryStatsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val samples = sys.env.getOrElse("SPARK_GRAFT_PROBE_SAMPLES", "1").toInt.max(1)
    // the bench's session settings (incl. the AQE coalescing floor) so
    // stage shapes here match what the bench actually runs
    val spark = Tables.localSession(cores = cpus.toInt)

    // same warmup as Bench so the first probed query isn't charged JVM/
    // codegen startup
    Bench.warmup(spark, sfDir)

    // the phase a stage completed in: "build" or "fold"
    @volatile var phase = "build"
    final case class StageRow(phase: String, name: String, tasks: Int, execMs: Long,
      shRead: Long, shReadRec: Long, shWrite: Long, shWriteRec: Long,
      input: Long, spill: Long, maxTaskMs: Long, wallMs: Long)
    val stages = ArrayBuffer.empty[StageRow]
    val taskMax = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val d = if (te.taskInfo != null) te.taskInfo.duration else 0L
        taskMax.merge(te.stageId, d, (a: Long, b: Long) => math.max(a, b))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
        stages.synchronized {
          stages += StageRow(phase, si.name, si.numTasks, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleReadMetrics.recordsRead,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleWriteMetrics.recordsWritten,
            m.inputMetrics.bytesRead, m.diskBytesSpilled,
            taskMax.getOrDefault(si.stageId, 0L), wall)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val names =
      if (args.isEmpty || args.sameElements(Array("--all")))
        SparkEntry.queries.keys.toSeq.sorted
      else args.toSeq
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to samples).foreach { s =>
        stages.synchronized(stages.clear())
        phase = "build"
        val t0 = System.nanoTime()
        val raw = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        // listener events are posted async; let the build's stages land
        // before the tag flips
        Thread.sleep(300)
        phase = "fold"
        val t1 = System.nanoTime()
        Fold.digest(raw)
        val wall = tBuild + (System.nanoTime() - t1) / 1e9
        Thread.sleep(300)
        val snap = stages.synchronized(stages.toVector)
        val nStages = snap.size
        val nTasks = snap.map(_.tasks).sum
        val execS = snap.map(_.execMs).sum / 1e3
        val shR = snap.map(_.shRead).sum
        val shRRec = snap.map(_.shReadRec).sum
        val shW = snap.map(_.shWrite).sum
        val input = snap.map(_.input).sum
        val buildInput = snap.filter(_.phase == "build").map(_.input).sum
        val spill = snap.map(_.spill).sum
        val exchanges = {
          val p = raw.queryExecution.executedPlan.toString
          "Exchange".r.findAllIn(p).size
        }
        println(f"[qprobe] $name%-28s s$s wall=$wall%7.2f build=$tBuild%5.2f " +
          f"stages=$nStages%3d tasks=$nTasks%5d execSum=$execS%8.2f " +
          f"shRead=${shR / 1e6}%9.1fMB shRecs=$shRRec%10d shWrite=${shW / 1e6}%9.1fMB " +
          f"input=${input / 1e6}%9.1fMB buildInput=${buildInput / 1e6}%9.1fMB " +
          f"spill=${spill / 1e6}%7.1fMB exch=$exchanges%2d")
        snap.sortBy(-_.execMs).take(3).foreach { st =>
          println(f"[qprobe]   ${st.phase}%-5s stage exec=${st.execMs / 1e3}%7.2fs wall=${st.wallMs / 1e3}%6.2fs " +
            f"maxTask=${st.maxTaskMs / 1e3}%6.2fs tasks=${st.tasks}%4d " +
            f"shR=${st.shRead / 1e6}%8.1fMB shW=${st.shWrite / 1e6}%8.1fMB " +
            f"in=${st.input / 1e6}%8.1fMB spill=${st.spill / 1e6}%6.1fMB  ${st.name.take(90)}")
        }
        spark.catalog.clearCache()
        CacheScope.drain(spark)
      }
    }
    spark.stop()
  }
}
