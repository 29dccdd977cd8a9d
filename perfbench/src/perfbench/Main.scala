package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, run the workload's timed
  * calls, check the outputs, and write the raw run record
  * (`<out>/raw.json`) that `perfbench/run.py` turns into metrics.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir> --cpus <n>`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val out = opt("out")
    val cpus = opt("cpus").toInt
    val rec = new Recorder(opt("trace") == "1",
      s"${workload.name}-$seed-${ProcessHandle.current.pid}")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    rec.attach(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    // set-up ends when the seeded inputs are written: a cold JVM's
    // set-up cannot be repeated in-process, so it is measured once
    val dir = s"$out/input"
    workload.generate(spark, dir, seed)
    val setupEnd = System.currentTimeMillis()

    workload.run(spark, rec, dir, seed, seconds, out)
    rec.phaseEnd()
    val peakHeapMb = rec.peakOldGenMb
    val runEnd = System.currentTimeMillis()
    workload.check(spark, rec, dir, out)
    rec.jobs.foreach(_ => org.apache.spark.perfbench.ListenerDrain(spark.sparkContext))
    val checkEnd = System.currentTimeMillis()

    val record = Map(
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> rec.trace, "run_id" -> rec.runId,
      "env" -> Map(
        "cores" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "scale" -> workload.scale,
        "inflation" -> 1),
      "setup" -> Map("session_s" -> sessionS,
        "setup_s" -> (setupEnd - jvmStart) / 1e3),
      // wall of each part of the run, JVM start to the record's write
      "timeline_s" -> Map("setup" -> (setupEnd - jvmStart) / 1e3,
        "timed" -> (runEnd - setupEnd) / 1e3, "check" -> (checkEnd - runEnd) / 1e3),
      "peak_heap_mb" -> peakHeapMb,
      "ops" -> rec.ops.map(o => Map(
        "id" -> o.id, "layer" -> o.layer, "name" -> o.name,
        "phase" -> o.phase, "start_ms" -> o.start, "end_ms" -> o.end,
        "wall_s" -> o.wallNs / 1e9, "cpu_s" -> o.cpuNs / 1e9,
        "ok" -> o.ok, "error" -> o.error, "extra" -> o.extra)),
      "checks" -> rec.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "oracle" -> workload.oracle,
      "jobs" -> rec.jobs.map(_.jobs.asScala.toSeq.sortBy(_._1).map {
        case (id, j) => Map("id" -> id, "span" -> j.span,
          "start_ms" -> j.start, "end_ms" -> j.end) }).getOrElse(Nil),
      "totals" -> rec.jobs.map(_.totals.asScala.map { case (span, a) =>
        span -> Map("tasks" -> a(0), "exec_cpu_ns" -> a(1),
          "shuffle_write_bytes" -> a(2), "spill_bytes" -> a(3),
          "output_bytes" -> a(4), "input_bytes" -> a(5)) }.toMap)
        .getOrElse(Map.empty))
    Files.writeString(Paths.get(out, "raw.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }
}

/** A named workload: how its inputs are made, its timed calls, and its
  * untimed correctness checks.
  */
trait Workload {
  def name: String
  def scale: String
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def run(spark: SparkSession, rec: Recorder, dir: String, seed: Long,
      seconds: Double, out: String): Unit
  def check(spark: SparkSession, rec: Recorder, dir: String, out: String): Unit
  /** Outputs for the DuckDB oracle compare: name, oracle SQL, the
    * parquet dir holding the program's rows, the input dir and,
    * optionally, the subset of the oracle's columns those rows carry.
    */
  def oracle: Seq[Map[String, String]]
}

object Workload {
  def apply(name: String): Workload = name match {
    case "airline_reference" => new AirlineReference(15000L)
    case "corpus_version" => new CorpusVersion(200, 3)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
