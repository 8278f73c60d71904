package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, var end: Long = 0L)

/** In-memory spans around the harness's calls into the engine's layers.
  * Disabled, it runs the body and records nothing. Enabled, it also tags
  * every Spark job the body submits with the open span's id (a local
  * property carried in the job's properties), which the [[Recorder]] reads
  * back — with one client thread the open span is unambiguous.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Int = -1

  def nowNs: Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name, nowNs)
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = nowNs
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Spark-side counters: jobs (with the span that submitted them), stages,
  * tasks, shuffle, spill, block updates, and Catalyst phase times.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val span: String, val submitMs: Long) {
    var endMs = 0L
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var waitMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var blocksWritten = 0L
  @volatile var blocksDropped = 0L
  @volatile var bytesWritten = 0L
  /** (optimization start epoch ms, analysis ms, optimization ms, planning ms) */
  val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
    val j = new Job(e.jobId, span, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        Option(e.taskInfo).foreach { ti =>
          Option(stageSubmit.get(e.stageId)).foreach(s => j.waitMs += math.max(0L, ti.launchTime - s))
        }
        Option(e.taskMetrics).foreach { m =>
          j.taskMs += m.executorRunTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val size = i.memSize + i.diskSize
    if (i.storageLevel.isValid && size > 0) { blocksWritten += 1; bytesWritten += size }
    else blocksDropped += 1
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.get("optimization").orElse(ph.get("analysis")).map(_.startTimeMs).getOrElse(0L)
    catalyst.add(Array(at, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def jobsJson: Seq[Map[String, Any]] = jobs.values().asScala.toSeq.sortBy(_.id).map { j =>
    Map("id" -> j.id, "span" -> j.span, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
      "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "wait_ms" -> j.waitMs,
      "shuffle_read" -> j.shuffleRead, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill)
  }
}
