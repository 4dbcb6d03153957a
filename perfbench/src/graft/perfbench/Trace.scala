package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans recorded by the benchmark around its calls into the library's
  * layers, kept in memory and summarised when the run ends. Off in untraced
  * runs: a disabled span is one volatile read. */
object Spans {
  @volatile var enabled = false
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  def record(name: String, ms: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(ms)

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally record(name, (System.nanoTime() - t0) / 1e6)
    }

  def get(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toVector).getOrElse(Vector.empty)
}

/** Per job-group scheduler totals. */
final case class GroupTotals(var jobs: Long = 0, var tasks: Long = 0, var runMs: Double = 0,
                             var cpuMs: Double = 0, var shuffleRead: Long = 0,
                             var shuffleWrite: Long = 0, var spill: Long = 0)

/** SparkListener keying each job on a benchmark group: `reader` for endpoint
  * reads, and `label(jobGroup)` otherwise (streaming queries run their jobs
  * under their run id as the job group). Also keeps every job's submission
  * time, so eager jobs can be counted by time window. */
final class JobListener(label: String => String) extends SparkListener {
  private val stageGroup = mutable.HashMap.empty[Int, String]
  val totals: mutable.Map[String, GroupTotals] = mutable.HashMap.empty
  val jobStartMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = label(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull)
    e.stageIds.foreach(stageGroup(_) = g)
    totals.getOrElseUpdate(g, GroupTotals()).jobs += 1
    jobStartMs += e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    // Tasks of a job started while the listener was off are not counted.
    val m = e.taskMetrics
    for (g <- stageGroup.get(e.stageId)) {
      val t = totals.getOrElseUpdate(g, GroupTotals())
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuMs += m.executorCpuTime / 1e6
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def group(g: String): GroupTotals = synchronized(totals.getOrElse(g, GroupTotals()).copy())
  def jobsBetween(fromMs: Long, toMs: Long): Int =
    synchronized(jobStartMs.count(t => t >= fromMs && t <= toMs))
}

/** StreamingQueryListener keeping every progress report. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
}

/** The traced run's listeners, registered and removed as a pair. */
final class Tracer(spark: SparkSession, label: String => String) {
  val jobs = new JobListener(label)
  val streams = new ProgressListener
  private var on = false
  def start(): Unit = synchronized {
    if (!on) {
      on = true
      Spans.enabled = true
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
  }
  def stop(): Unit = synchronized {
    if (on) {
      on = false
      Spans.enabled = false
      Tracer.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(streams)
    }
  }
}

object Tracer {
  /** Wait until the listener bus has delivered every posted event. */
  def flush(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.flush(sc)
}

/** JVM garbage-collection time and heap peak over a measured window. */
final class JvmWindow {
  import java.lang.management.{ManagementFactory, MemoryType}
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs
  def gcMsSince: Double = (gcMs - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
