package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable

/** Counts from Spark's own listener bus, keyed by the `perfbench.op`
 * local property the calling thread set (see [[Collectors.tagged]]).
 * Jobs without the property fall under "". */
final class JobListener extends SparkListener {
  final class OpStats {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Double]
  }
  private val byOp = mutable.HashMap.empty[String, OpStats]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  /** (op, start epoch ms, end epoch ms) of every finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private def opOf(p: java.util.Properties): String =
    if (p == null) "" else p.getProperty(Collectors.OpKey, "")
  private def stats(op: String) = byOp.getOrElseUpdate(op, new OpStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    stats(op).jobs += 1
    e.stageIds.foreach(stageOp(_) = op)
    jobStart(e.jobId) = (op, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      jobIntervals += ((op, t0, e.time))
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      if (!stageOp.contains(e.stageInfo.stageId))
        stageOp(e.stageInfo.stageId) = opOf(e.properties)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageOp.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskMs += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Totals over the ops accepted by `keep`, as a fresh OpStats. */
  def total(keep: String => Boolean): OpStats = synchronized {
    val t = new OpStats
    byOp.foreach { case (op, s) =>
      if (keep(op)) {
        t.jobs += s.jobs; t.tasks += s.tasks; t.runMs += s.runMs
        t.cpuNs += s.cpuNs; t.gcMs += s.gcMs
        t.shuffleReadBytes += s.shuffleReadBytes
        t.shuffleWriteBytes += s.shuffleWriteBytes
        t.taskMs ++= s.taskMs
      }
    }
    t
  }
  def ops: Set[String] = synchronized(byOp.keySet.toSet)
  def reset(): Unit = synchronized {
    byOp.clear(); jobIntervals.clear()
  }
  def intervals: Seq[(String, Long, Long)] = synchronized(jobIntervals.toList)
}

/** Every StreamingQueryProgress the query reports, in arrival order. */
final class ProgressListener extends StreamingQueryListener {
  private val buf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized(buf += e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toList)
}

object Collectors {
  val OpKey = "perfbench.op"

  /** Run `f` with this thread's Spark jobs attributed to `op`. */
  def tagged[A](spark: org.apache.spark.sql.SparkSession, op: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }

  /** Give the listener bus time to deliver the events of jobs that have
   * already returned to their callers. */
  def settle(): Unit = Thread.sleep(600)

  def durationMs(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue()).getOrElse(0.0)

  /** Epoch nanos at which the trigger behind `p` started. */
  def triggerStartNs(p: StreamingQueryProgress): Long =
    Trace.epochMsToNs(java.time.Instant.parse(p.timestamp).toEpochMilli)

  /** Live heap in MB after full collections. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
