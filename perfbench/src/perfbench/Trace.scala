package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** A timed interval of the run: run, workload, pass, query, or one
  * phase of a query (construct, plan, execute). `group` is the Spark job
  * group the benchmark set while the span was open, if any. Start and
  * end are epoch milliseconds, the clock Spark's listener events carry;
  * `durS` is the same interval read from the monotonic clock.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    startMs: Long, endMs: Long, durS: Double, group: Option[String] = None)

/** A Spark job as the listener saw it. */
final case class JobRec(jobId: Int, group: Option[String], submitMs: Long,
    stageIds: Seq[Int])

/** An executed stage, with epoch-millisecond submission and completion. */
final case class StageRec(stageId: Int, numTasks: Int, submitMs: Long, endMs: Long)

/** A finished task. Times are seconds; sizes are bytes. */
final case class TaskRec(stageId: Int, durationS: Double, runS: Double,
    cpuS: Double, peakMemBytes: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Maps Spark jobs onto the benchmark's phase spans. */
object Attribution {

  /** The phase span a job belongs to. A job carrying the job group of a
    * span belongs to it. A job without one (submitted from a thread that
    * did not inherit the group, e.g. a pool thread the program created
    * before the query started) belongs to the span whose interval holds
    * its submission time; queries run one at a time, so at most one
    * phase span is open at any instant.
    */
  def spanOf(job: JobRec, phases: Seq[Span]): Option[Span] = {
    val byGroup = job.group.flatMap(g => phases.find(_.group.contains(g)))
    byGroup.orElse(phases.find(s => s.startMs <= job.submitMs && job.submitMs <= s.endMs))
  }

  /** Stage id → owning job id. A stage that several jobs list (a reused
    * shuffle stage, skipped by the later jobs) belongs to the first.
    */
  def stageOwners(jobs: Seq[JobRec]): Map[Int, Int] =
    jobs.sortBy(_.jobId).flatMap(j => j.stageIds.map(_ -> j.jobId))
      .groupBy(_._1).map { case (s, owners) => s -> owners.head._2 }
}

/** Spans opened by the benchmark. Appends from the driver thread only. */
final class Spans {
  private val buf = scala.collection.mutable.ArrayBuffer[Span]()
  private var opened = 0

  /** Run `body` inside a new span under `parent`; `body` gets the new
    * span's id, for its children. Returns its result and the span.
    */
  def within[T](parent: Int, kind: String, name: String,
      group: Option[String] = None)(body: Int => T): (T, Span) = {
    opened += 1
    val id = opened
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def close(): Span = {
      val s = Span(id, parent, kind, name, start, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, group)
      buf += s
      s
    }
    val r = try body(id) catch { case e: Throwable => close(); throw e }
    (r, close())
  }

  /** Closed spans, in the order they closed. */
  def all: Seq[Span] = buf.toSeq
}

/** Listener that records every job, executed stage and finished task in
  * memory. Registered only in traced runs.
  */
final class Recorder extends SparkListener {
  private val jobQ = new ConcurrentLinkedQueue[JobRec]()
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]()
  private val stageQ = new ConcurrentLinkedQueue[StageRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobQ.add(JobRec(e.jobId,
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
      e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stageQ.add(StageRec(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskQ.add(TaskRec(e.stageId,
      e.taskInfo.duration / 1e3, m.executorRunTime / 1e3,
      m.executorCpuTime / 1e9, m.peakExecutionMemory,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled))
  }

  def jobs: Seq[JobRec] = jobQ.asScala.toSeq
  def tasks: Seq[TaskRec] = taskQ.asScala.toSeq
  def stages: Seq[StageRec] = stageQ.asScala.toSeq
  def jobEndMs(jobId: Int): Long = jobEnds.getOrDefault(jobId, 0L)

  def clear(): Unit = { jobQ.clear(); taskQ.clear(); stageQ.clear(); jobEnds.clear() }
}
