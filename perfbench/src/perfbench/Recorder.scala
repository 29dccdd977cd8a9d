package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into the program. `start`/`end` are epoch ms (so
  * they line up with Spark's job timestamps); `wallNs` and `cpuNs` are
  * the precise wall and process-CPU deltas of the call itself.
  */
final case class Op(id: Int, layer: String, name: String, phase: String,
    start: Long, end: Long, wallNs: Long, cpuNs: Long, ok: Boolean,
    error: String, extra: Map[String, Double])

/** Records every timed call, its failure if any, and (traced runs
  * only) one span per call plus the Spark jobs each span caused.
  *
  * A throw inside a timed call is caught here, recorded with its op
  * name and message, and counted as a failed op: the run still prints
  * its metrics, names the failure and exits non-zero.
  */
final class Recorder(val trace: Boolean, val runId: String) {
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  private var nextId = 0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  private var peakOldBytes = 0L
  val jobs: Option[JobRecorder] = if (trace) Some(new JobRecorder) else None

  def attach(spark: SparkSession): Unit =
    jobs.foreach(spark.sparkContext.addSparkListener)

  /** Called between phases, outside any timed call: the old
    * generation's live bytes after a full collection. The peak over
    * phase ends is the largest heap the program kept live at a phase
    * boundary. The pause between two collections lets Spark's context
    * cleaner drop the blocks of broadcasts the first one found dead.
    */
  def phaseEnd(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    oldGen.foreach(p => peakOldBytes = math.max(peakOldBytes, p.getUsage.getUsed))
  }

  def peakOldGenMb: Double = peakOldBytes / 1048576.0

  def timed[A](spark: SparkSession, layer: String, name: String,
      phase: String)(f: => A): Option[A] = {
    val id = synchronized { nextId += 1; nextId }
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case e: Throwable => Left(e) }
    val wall = System.nanoTime() - t0
    val cpu = os.getProcessCpuTime - cpu0
    val endMs = System.currentTimeMillis()
    sc.setLocalProperty(Recorder.SpanKey, null)
    val err = res.left.toOption.map { e =>
      val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
      System.err.println(s"[perfbench] FAILED $layer/$name: $msg")
      msg.take(500)
    }
    System.err.println(f"[perfbench] op $layer/$name ${wall / 1e9}%.2f s")
    ops += Op(id, layer, name, phase, startMs, endMs, wall, cpu,
      err.isEmpty, err.getOrElse(""), Map.empty)
    res.toOption
  }

  /** Attach a measured value (e.g. files read) to the last op. */
  def annotate(key: String, value: Double): Unit = {
    val last = ops.last
    ops(ops.size - 1) = last.copy(extra = last.extra + (key -> value))
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    checks += ((name, ok, detail.take(500)))
  }

  /** Run a correctness check body; a throw is a failed check. */
  def checking(name: String)(body: => Boolean): Unit =
    try { val ok = body; check(name, ok, if (ok) "" else "mismatch") }
    catch { case e: Throwable =>
      check(name, ok = false, s"${e.getClass.getName}: ${e.getMessage}")
    }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Per-span Spark job timeline and task totals (traced runs only). */
final class JobRecorder extends SparkListener {
  final case class Job(span: String, start: Long, var end: Long)
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  // per span: tasks, executor cpu ns, shuffle write B, disk spill B,
  // output B, input B
  val totals = new ConcurrentHashMap[String, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Recorder.SpanKey))).getOrElse("")
    jobs.put(e.jobId, Job(span, e.time, -1L))
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val span = stageSpan.getOrDefault(e.stageId, "")
    if (m != null && span.nonEmpty) {
      val a = totals.computeIfAbsent(span, _ => new Array[Long](6))
      a.synchronized {
        a(0) += 1
        a(1) += m.executorCpuTime
        a(2) += m.shuffleWriteMetrics.bytesWritten
        a(3) += m.diskBytesSpilled
        a(4) += m.outputMetrics.bytesWritten
        a(5) += m.inputMetrics.bytesRead
      }
    }
  }
}
