package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One finished task, charged to the span of the job that ran it. */
final case class TaskRec(span: String, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
    outBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long)

final case class JobRec(span: String, submitMs: Long)

/** Aggregates Spark jobs and tasks per bench span.
  *
  * A job belongs to the innermost `pb:<depth>:<name>` tag it carries.
  * A job with no bench tag that runs inside a streaming query (it
  * carries `sql.streaming.queryId`) belongs to `runtime.batch`: that is
  * the micro-batch body the pipeline runs in `foreachBatch`.
  */
final class JobListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def spanOf(props: java.util.Properties): String = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
      .filter(_.startsWith("pb:"))
      .map { t => val Array(_, d, n) = t.split(":", 3); (d.toInt, n) }
    if (tags.nonEmpty) tags.maxBy(_._1)._2
    else if (Option(props).exists(_.getProperty("sql.streaming.queryId") != null))
      "runtime.batch"
    else "untagged"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    jobs.add(JobRec(s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val sr = m.shuffleReadMetrics
    tasks.add(TaskRec(
      stageSpan.getOrDefault(e.stageId, "untagged"),
      e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten,
      sr.remoteBytesRead + sr.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs)

  def tasksIn(fromMs: Long, toMs: Long): Seq[TaskRec] =
    tasks.asScala.toSeq.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs)
}

object JobListener {
  /** Wall time inside [from, to] that no task covers. */
  def gapMs(ts: Seq[TaskRec], from: Long, to: Long): Long = {
    val iv = ts.map(t => (math.max(t.launchMs, from), math.min(t.finishMs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (to - from) - covered
  }
}
