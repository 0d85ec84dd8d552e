package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded from the benchmark's own code: setup, pass, op, the op's
  * phases (build, plan, action) and, from [[ExecListener]], the Spark jobs
  * each phase ran. A span carries its id, its parent's id and the op id it
  * belongs to; times are System.nanoTime. Kept in memory, written at exit.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      pass: Int, op: Long, start: Long, end: Long)

final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0L
  /** Offset that turns a Spark event time (epoch ms) into nanoTime. */
  val epochToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newId(): Long = synchronized { next += 1; next }
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }
}

final case class Job(id: Int, group: String, start: Long, var end: Long, stages: Seq[Int])

/** Task counters of one stage attempt, and the job group it ran under. */
final class StageAgg(val group: String) {
  var tasks, failed = 0L
  var runMs, gcMs, schedMs, fetchWaitMs = 0L
  var shWrite, shRead, shWriteNs, spillMem, spillDisk, inBytes, inRecs, outBytes = 0L
  var peakMem = 0L
}

/** The benchmark's SparkListener: per job, stage attempt and task, the
  * counters the per-layer metrics are made of. Events carry the job group
  * the benchmark set around each phase (or the streaming run id), which
  * maps them back to a phase span. Registered only in traced passes.
  */
final class ExecListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  private val submitted = mutable.Set.empty[Int]
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, groupOf(e.properties), e.time, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    submitted += s.stageId
    stages((s.stageId, s.attemptNumber())) = new StageAgg(groupOf(e.properties))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg(""))
    a.tasks += 1
    if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.spillMem += m.memoryBytesSpilled
      a.spillDisk += m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecs += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
    }
  }
  /** Stages a job listed but never ran (their shuffle output was reused). */
  def skipped(j: Job): Int = synchronized { j.stages.count(s => !submitted(s)) }
}

/** Micro-batch progress of the streaming daemon, per run id. */
final class BatchListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
