package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-job-group run statistics: the one listener behind Bench's
  * per-query executor cpu and GC, ScaleRehearsal's per-leg shuffle
  * and task-balance numbers, and the specs that count driver jobs.
  *
  * Each stage is mapped to the `spark.jobGroup.id` of the job that
  * submits it, at job start, so a task-end event is charged to its
  * own group however late the async listener bus delivers it (a
  * global delta window charges late events to whichever group runs
  * next). Work outside any job group counts toward no group. The bus
  * is asynchronous: call [[drain]] before reading. Each group's totals
  * are one immutable [[JobGroupMetrics.Stats]], merged per event.
  */
final class JobGroupMetrics private () extends SparkListener {
  import JobGroupMetrics.Stats

  private val stageGroup = new ConcurrentHashMap[Integer, String]
  private val groups = new ConcurrentHashMap[String, Stats]
  private val events = new AtomicLong

  private def add(group: String, s: Stats): Unit =
    groups.merge(group, s, _ + _)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        j.stageIds.foreach(sid => stageGroup.put(sid, g))
        add(g, Stats(jobs = 1))
      }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = t.taskMetrics
    val g = stageGroup.get(t.stageId)
    if (m != null && g != null) {
      val rd = m.shuffleReadMetrics.totalBytesRead
      // shuffle-reading tasks only, so scan-only tasks don't dilute
      // the per-task balance
      add(g, Stats(0, m.executorCpuTime, m.jvmGCTime, rd,
        m.shuffleWriteMetrics.bytesWritten, Vector(rd).filter(_ > 0)))
    }
  }

  /** The group's totals so far; all zero for a group that ran nothing. */
  def apply(group: String): Stats = groups.getOrDefault(group, Stats())

  /** Waits until the listener bus is quiet: no event for 3
    * consecutive 100 ms polls, or 10 s at most.
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var last = -1L; var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val c = events.get()
      if (c == last) stable += 1 else { stable = 0; last = c }
    }
  }
}

object JobGroupMetrics {
  /** One group's totals. `taskShuffleReads` holds the shuffle-read
    * bytes of each task that read any, in arrival order: a straggler
    * shows as a max far above the median.
    */
  final case class Stats(jobs: Int = 0, cpuNs: Long = 0L, gcMs: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      taskShuffleReads: Vector[Long] = Vector.empty) {
    def +(o: Stats): Stats = Stats(jobs + o.jobs, cpuNs + o.cpuNs,
      gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes,
      taskShuffleReads ++ o.taskShuffleReads)
  }

  /** A new instance, listening on `sc` until `sc.removeSparkListener`. */
  def attach(sc: SparkContext): JobGroupMetrics = {
    val m = new JobGroupMetrics
    sc.addSparkListener(m)
    m
  }
}
