package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work attributed to one request (one job group). */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var jobWallMs = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var slotWaitMs = 0L

  def +=(o: SparkCounters): Unit = {
    jobs += o.jobs; tasks += o.tasks; inputBytes += o.inputBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    jobWallMs += o.jobWallMs; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; slotWaitMs += o.slotWaitMs
  }
}

/** Public-listener view of the Spark scheduler: per-request jobs, tasks,
  * input/shuffle/spill bytes, job wall vs task run time, and slot wait
  * (task launch minus stage submission). Requests are identified by the
  * job group [[Tracer.request]] sets. When tracing, every job and task
  * also becomes a span under the benchmark span that submitted it.
  *
  * Events arrive on Spark's single listener thread; reads happen after
  * [[awaitIdle]], so the maps need no further locking. */
final class JobProbe(tracer: Tracer) extends SparkListener {
  private val byReq = new ConcurrentHashMap[Long, SparkCounters]()
  private final case class JobInfo(req: Long, spanId: Long, parent: Long,
                                   startMs: Long)
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  @volatile private var started = 0L
  @volatile private var ended = 0L
  // listener times are wall-clock ms; spans use nanoTime
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + nanoOffset

  private def counters(req: Long): SparkCounters =
    byReq.computeIfAbsent(req, _ => new SparkCounters)

  private def reqOf(p: java.util.Properties): Long =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = reqOf(e.properties)
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProp))).map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, JobInfo(req,
      if (parent != 0L) tracer.newSpanId() else 0L, parent, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach { j =>
      val c = counters(j.req)
      c.jobs += 1
      c.jobWallMs += e.time - j.startMs
      if (j.parent != 0L)
        tracer.add("spark.job", j.parent, j.req, toNs(j.startMs), toNs(e.time),
          j.spanId)
    }
    ended += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      stageSubmitMs.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
    val req = job.map(_.req).getOrElse(0L)
    val c = counters(req)
    c.tasks += 1
    val info = e.taskInfo
    Option(stageSubmitMs.get(e.stageId)).foreach(s =>
      c.slotWaitMs += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    job.filter(_.spanId != 0L).foreach(j =>
      tracer.add("spark.task", j.spanId, j.req, toNs(info.launchTime),
        toNs(info.finishTime)))
  }

  /** Wait until every started job has ended and been counted. */
  def awaitIdle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      if (started == ended) quiet += 1 else quiet = 0
      Thread.sleep(20)
    }
  }

  /** Counters summed over the given requests. */
  def sum(reqs: Iterable[Long]): SparkCounters = {
    val out = new SparkCounters
    reqs.foreach(r => Option(byReq.get(r)).foreach(out += _))
    out
  }
}

/** JVM and host readings from public MXBeans and `/proc/loadavg`. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Live heap after full collections, in MiB. Spark's ContextCleaner
    * releases shuffle and broadcast state only after a collection has
    * made their owners unreachable, so this collects a few times with a
    * pause in between and keeps the smallest reading. */
  def heapAfterGcMb: Double =
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private val threads = ManagementFactory.getThreadMXBean
  /** CPU time of the calling thread, in ns. */
  def threadCpuNs: Long = threads.getCurrentThreadCpuTime

  def loadAvg1m: Double =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.getLines().next().split(' ')(0).toDouble finally s.close()
    } catch {
      case _: Exception =>
        ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    }
}
