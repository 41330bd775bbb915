package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** What one operation cost the Spark engine, from its listener events. */
final case class EngineStats(jobs: Long, tasks: Long, cpuNs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, jobIntervals: Seq[(Long, Long)]) {

  /** Wall time of [t0, t1] (epoch ms) not covered by any job: driver-side
    * planning, codegen, file listing and commit work between jobs. */
  def driverGapMs(t0: Long, t1: Long): Long = {
    val clipped = jobIntervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0) - covered
  }
}

/** Counts jobs, tasks and task metrics between two `reset` calls. Only
  * the traced run attaches it. */
final class EngineListener extends SparkListener {
  private val starts = mutable.HashMap.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private var jobs, tasks, cpuNs, gcMs, shuffle, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    starts(e.jobId) = e.time; jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffle += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    starts.clear(); intervals.clear()
    jobs = 0; tasks = 0; cpuNs = 0; gcMs = 0; shuffle = 0; spill = 0
  }

  def snapshot(): EngineStats = synchronized {
    EngineStats(jobs, tasks, cpuNs, gcMs, shuffle, spill, intervals.toList)
  }
}

/** Runs operations with or without the listeners, and keeps per-operation
  * engine counters and every micro-batch's progress for the traced ones. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new EngineListener
  val stats = mutable.ArrayBuffer.empty[(EngineStats, Long, Long)]
  val streams = new StreamListener

  /** Runs `op`; with `traced` the listeners are attached for its duration
    * and the engine counters are kept. Returns `op`'s result and its wall
    * time in seconds. */
  def run[T](traced: Boolean)(op: => T): (T, Double) = {
    if (traced) {
      PerfbenchBus.drain(sc)
      listener.reset()
      sc.addSparkListener(listener)
      spark.streams.addListener(streams)
    }
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try op finally {
      if (traced) {
        val w1 = System.currentTimeMillis()
        PerfbenchBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.streams.removeListener(streams)
        stats += ((listener.snapshot(), w0, w1))
      }
    }
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** Scan statistics of an executed plan, adaptive stages included. */
object Plans extends AdaptiveSparkPlanHelper {
  final case class ScanStats(files: Long, rows: Long)

  def scans(plan: SparkPlan): ScanStats = {
    val ss = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    ScanStats(ss.map(m(_, "numFiles")).sum, ss.map(m(_, "numOutputRows")).sum)
  }
}
