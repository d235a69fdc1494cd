package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters for the jobs of one job group (one span). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var jobWallMs, taskRunMs, taskCpuNs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  var shWriteBytes, shWriteRecords, shReadBytes, spillBytes = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "job_wall_ms" -> jobWallMs, "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs,
    "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs, "fetch_wait_ms" -> fetchWaitMs,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "shuffle_write_bytes" -> shWriteBytes,
    "shuffle_write_records" -> shWriteRecords, "shuffle_read_bytes" -> shReadBytes,
    "spill_bytes" -> spillBytes)
}

/** Wall and task durations of one completed stage (for the skew reading). */
final case class StageRec(group: String, wallMs: Long, taskMs: Seq[Long])

/** Rolls Spark's job/stage/task events up by the job group that was set when
  * each job started. The benchmark sets one job group per span, so every job
  * lands on the innermost span open on the thread that started it.
  */
final class GroupListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counters]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageTasks = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  val stagesDone = ArrayBuffer.empty[StageRec]

  private def of(group: String): Counters = byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
    val c = of(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "none")
    val c = of(g)
    c.synchronized { c.jobWallMs += e.time - jobStart.getOrDefault(e.jobId, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrDefault(si.stageId, "none")
    val c = of(g)
    c.synchronized { c.stages += 1 }
    val wall = (for (s <- si.submissionTime; f <- si.completionTime) yield f - s).getOrElse(0L)
    val ts = Option(stageTasks.remove(si.stageId)).map(_.toSeq).getOrElse(Nil)
    stagesDone.synchronized { stagesDone += StageRec(g, wall, ts) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    val c = of(g)
    val info = e.taskInfo
    val m = e.taskMetrics
    stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      .synchronized { stageTasks.get(e.stageId) += info.duration }
    c.synchronized {
      c.tasks += 1
      if (!info.successful) c.failedTasks += 1
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long,
    var endNs: Long, attrs: scala.collection.mutable.Map[String, Double])

/** Spans around the benchmark's calls into each layer. With tracing off,
  * `span` only runs its body: no job groups, no listener, no records.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val listener: Option[GroupListener] =
    if (enabled) { val l = new GroupListener; sc.addSparkListener(l); Some(l) } else None
  private var stack: List[Span] = Nil
  var op: Int = -1
  /** Off during set-up: spans cover the timed part of the run only. */
  var recording = false
  def on: Boolean = enabled && recording

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
        System.nanoTime(), 0L, scala.collection.mutable.Map.empty)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attach a number to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = v)

  /** Wait until the listener has seen every event posted so far. */
  def flush(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)
}
