package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into the engine, as the benchmark sees it. */
final case class OpSpan(id: Long, name: String, kind: String, parent: Long,
    startMs: Double, endMs: Double, traced: Boolean) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Per-op counters gathered by [[Tracer]] from the listener bus. */
final class OpCounters {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L; var waitMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var input = 0L
  var firstJobStartMs = Long.MaxValue
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (jobId, start, end)
}

/** SparkListener registered from the benchmark's own code. Jobs are
  * attributed to ops through the job group the benchmark sets around
  * each traced op (`graftbench:<opId>`); jobs without such a group are
  * ignored. Everything is kept in memory and read after the run.
  */
final class Tracer extends SparkListener {
  val GroupPrefix = "graftbench:"
  private val byOp = new ConcurrentHashMap[Long, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val jobOp = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val openJobs = new java.util.concurrent.atomic.AtomicInteger()

  def counters(opId: Long): OpCounters = byOp.computeIfAbsent(opId, _ => new OpCounters)
  def counted(opId: Long): Option[OpCounters] = Option(byOp.get(opId))

  private def opOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
    val c = counters(op)
    c.synchronized {
      c.jobs += 1
      c.firstJobStartMs = math.min(c.firstJobStartMs, e.time)
    }
    openJobs.incrementAndGet()
    jobOp.put(e.jobId, op)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageOp.put(s, op))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobOp.get(e.jobId)).foreach { op =>
    val c = counters(op)
    c.synchronized { c.jobSpans += ((e.jobId, jobStart.get(e.jobId).longValue, e.time)) }
    openJobs.decrementAndGet()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    Option(stageOp.get(si.stageId)).foreach { op =>
      val c = counters(op)
      c.synchronized { c.stages += 1 }
      stageSubmit.put((si.stageId, si.attemptNumber()),
        java.lang.Long.valueOf(si.submissionTime.getOrElse(System.currentTimeMillis())))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach { op =>
    val c = counters(op)
    val info = e.taskInfo
    val submitted = Option(stageSubmit.get((e.stageId, e.stageAttemptId))).map(_.longValue)
    c.synchronized {
      c.tasks += 1
      if (!info.successful) c.failedTasks += 1
      submitted.foreach(s => c.waitMs += math.max(0L, info.launchTime - s))
      Option(e.taskMetrics).foreach { m =>
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Wait (bounded) until every attributed job has posted its end event,
    * so counters are complete before they are read. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (openJobs.get() > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100) // task-end events trail their job's end event
  }

  def jobSpans: Seq[(Long, Int, Long, Long)] =
    byOp.asScala.toSeq.flatMap { case (op, c) => c.jobSpans.map { case (j, s, e) => (op.longValue, j, s, e) } }
}

object Trace {
  /** Length of the union of [start, end) intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
