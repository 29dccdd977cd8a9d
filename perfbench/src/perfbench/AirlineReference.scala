package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.SparkEntry
import graft.analytics.DistributionFit
import graft.engine.{Ingest, Serving}
import graft.operators.Airline

/** The paper's own surface: CSV on-time data is ingested into the
  * partitioned warehouse, the reference queries and the trip planner
  * run over it, the traffic distribution is fitted, and one result is
  * published keyed by airport. Then one closed-loop client issues
  * point lookups against the keyed table, with a small upsert batch
  * after every 10 lookups. 40 lookups put ten samples beyond their
  * 75th percentile. The traced run then also runs an [[IngestCycle]].
  */
final class AirlineReference(nOrders: Long) extends Workload {
  val name = "airline_reference"
  val scale = s"sf0.01 ($nOrders orders)"
  private val MinLookups = 40
  private val LookupsPerUpsert = 10

  // each pipeline query's output schema and collected rows
  private val pipelineRows = mutable.Map.empty[String, (StructType, Array[Row])]
  private var lookupMismatches = Seq.empty[String]
  private var keyed: Map[String, Map[String, Row]] = Map.empty
  private var fits = 0
  private val ingest = new IngestCycle(200, 2)
  private var runSeed = 0L

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    DataGen.airline(spark, dir, nOrders, seed)

  private def queries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "top10Airports" -> (Airline.top10Airports(_)),
    "top10AirlinesOnTime" -> (Airline.top10AirlinesOnTime(_)),
    "top10CarriersPerAirport" -> (Airline.top10CarriersPerAirport(_)),
    "top10DestPerAirport" -> (Airline.top10DestPerAirport(_)),
    "top10CarriersPerRoute" -> (Airline.top10CarriersPerRoute(_)),
    "sortedFrequencies" -> (Airline.sortedFrequencies(_)),
    "airports" -> (Airline.airports(_)),
    "legCandidates" -> (Airline.legCandidates(_)))

  def run(spark: SparkSession, rec: Recorder, dir: String, seed: Long,
      seconds: Double, out: String): Unit = {
    runSeed = seed
    val warehouse = s"$out/flights"
    val table = s"$out/serving/airportcarrierdepdelay"
    def timed[A](layer: String, op: String, phase: String)(f: => A) =
      rec.timed(spark, layer, op, phase)(f)

    // --- publish: input to published answers ---------------------------
    timed("engine.Ingest", "write", "publish") {
      Ingest.writeWarehouse(Ingest.readCsv(spark, s"$dir/csv"), warehouse)
    }
    val flights = Ingest.readWarehouse(spark, warehouse)
    for ((q, f) <- queries)
      timed("operators.Airline", q, "publish") {
        val df = f(flights)
        (df.schema, df.collect())
      }.foreach(pipelineRows(q) = _)
    timed("operators.Airline", "bestLegs", "publish") {
      Airline.bestLegs(
        Airline.generateRequests(
          Airline.originStopDest(Airline.airports(flights)), maxRequests = 50),
        Airline.legCandidates(flights)).collect()
    }
    timed("analytics.DistributionFit", "writeArtifacts", "publish") {
      DistributionFit.writeArtifacts(Airline.sortedFrequencies(flights),
        s"$out/analytics")
    }.foreach(f => fits = f.size)
    val keyedDf = Airline.top10CarriersPerAirport(flights)
      .select(col("Origin").as("airport"), col("UniqueCarrier").as("carrier"),
        col("avg_dep_delay"), col("rank"))
    val schema = keyedDf.schema
    timed("engine.Serving", "writeKeyed", "publish") {
      Serving.writeKeyed(keyedDf, table, Seq("airport"))
    }

    rec.phaseEnd()

    // --- serve: one closed-loop client ---------------------------------
    // the expected table contents, kept beside the client: airport ->
    // carrier -> (carrier, avg_dep_delay, rank)
    keyed = pipelineRows.get("top10CarriersPerAirport").map(_._2).getOrElse(Array.empty[Row])
      .groupBy(_.getAs[String]("Origin"))
      .map { case (a, rs) => a -> rs.map(r => r.getAs[String]("UniqueCarrier") ->
        Row(r.getAs[String]("UniqueCarrier"), r.getAs[Any]("avg_dep_delay"),
          r.getAs[Any]("rank"))).toMap }
    val airports = keyed.keys.toIndexedSeq.sorted
    if (airports.isEmpty) {
      rec.check("keyed table has airports to look up", ok = false, "no rows")
      return
    }
    val rnd = new scala.util.Random(seed * 31 + 7)
    val mismatches = mutable.ArrayBuffer.empty[String]
    var lookups = 0
    // total_s prices the first MinLookups lookups and their upserts;
    // ops the --seconds floor adds beyond them only add latency samples
    def phase = if (lookups < MinLookups) "serve" else "serve-extra"
    val loopStart = System.nanoTime()
    while (lookups < MinLookups ||
        (System.nanoTime() - loopStart) / 1e9 < seconds && lookups < 20 * MinLookups) {
      if (lookups > 0 && lookups % LookupsPerUpsert == 0 &&
          rec.ops.last.name != "upsert") {
        val batch = upsertBatch(rnd, airports, schema)
        val updates = spark.createDataFrame(
          java.util.Arrays.asList(batch: _*), schema)
        timed("engine.Serving", "upsert", phase) {
          Serving.upsertKeyed(spark, table, updates, Seq("airport"),
            Seq("airport", "carrier"))
        }.foreach { _ =>
          for (r <- batch) keyed = keyed.updated(r.getString(0),
            keyed(r.getString(0)) + (r.getString(1) -> Row(r(1), r(2), r(3))))
        }
      } else {
        val a = airports(rnd.nextInt(airports.size))
        var resolveNs = 0L
        var df: DataFrame = null
        timed("engine.Serving", "lookup", phase) {
          val t0 = System.nanoTime()
          df = Serving.lookup(spark, table, Map("airport" -> a))
          resolveNs = System.nanoTime() - t0
          df.collect()
        }.foreach { rows =>
          rec.annotate("resolve_ms", resolveNs / 1e6)
          rec.annotate("files_read", Plans.filesRead(df))
          val got = rows.map(r => Row(r.getAs[Any]("carrier"),
            r.getAs[Any]("avg_dep_delay"), r.getAs[Any]("rank")).toString).sorted.toSeq
          val want = keyed(a).values.map(_.toString).toSeq.sorted
          if (got != want) mismatches += s"lookup $lookups airport=$a"
        }
        lookups += 1
      }
    }
    lookupMismatches = mismatches.toSeq

    // traced run only: one IngestDemo pass, outside the end-to-end phases
    if (rec.trace) {
      rec.phaseEnd()
      ingest.run(spark, rec, out, seed)
    }
  }

  /** Two airports, two rows each: one existing carrier re-scored and
    * one carrier from a small pool of new names (inserted the first
    * time, updated after).
    */
  private def upsertBatch(rnd: scala.util.Random, airports: IndexedSeq[String],
      schema: StructType): Seq[Row] = {
    def rank(i: Int): Any =
      if (schema("rank").dataType == IntegerType) i else i.toLong
    rnd.shuffle(airports).take(2).flatMap { a =>
      val existing = keyed(a).keys.toIndexedSeq.sorted
      Map(existing(rnd.nextInt(existing.size)) -> 0, s"CX${rnd.nextInt(8)}" -> 1)
        .map { case (carrier, _) =>
          Row(a, carrier, (rnd.nextInt(800) - 200) / 4.0, rank(1 + rnd.nextInt(10)))
        }
    }
  }

  /** Pipeline query -> (oracle-gated entry, pipeline column -> entry
    * column). The pipeline's rows, renamed to the entry's columns, are
    * judged by run.py against DuckDB running that entry's oracle SQL.
    */
  private val entryOf: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("top10Airports", "a01_top_airports", Nil),
    ("top10AirlinesOnTime", "a02_top_airlines",
      Seq("UniqueCarrier" -> "carrier", "avg_arr_delay" -> "avg_arr_delay")),
    ("top10CarriersPerAirport", "a03_carriers_per_airport",
      Seq("Origin" -> "origin", "UniqueCarrier" -> "carrier",
        "avg_dep_delay" -> "avg_dep_delay", "rank" -> "rank")),
    ("top10DestPerAirport", "a04_dest_per_airport",
      Seq("Origin" -> "origin", "Dest" -> "dest",
        "avg_dep_delay" -> "avg_dep_delay", "rank" -> "rank")),
    ("top10CarriersPerRoute", "a05_carriers_per_route",
      Seq("Origin" -> "origin", "Dest" -> "dest", "UniqueCarrier" -> "carrier",
        "avg_arr_delay" -> "avg_arr_delay", "rank" -> "rank")),
    ("sortedFrequencies", "a06_sorted_frequencies", Nil),
    ("legCandidates", "a07_leg_candidates",
      Seq("FlightDate" -> "flight_date", "UniqueCarrier" -> "carrier",
        "FlightNum" -> "flightnum", "Origin" -> "origin", "Dest" -> "dest",
        "sched_dep" -> "sched_dep", "ArrDelay" -> "arr_delay")))
  private var oracleDirs = Seq.empty[Map[String, String]]

  def check(spark: SparkSession, rec: Recorder, dir: String, out: String): Unit = {
    rec.check("lookups return the keyed table's rows", lookupMismatches.isEmpty,
      lookupMismatches.take(5).mkString("; "))
    rec.checking("keyed table holds every upsert and nothing else") {
      val got = spark.read.parquet(s"$out/serving/airportcarrierdepdelay").collect()
        .map(r => s"${r.getAs[Any]("airport")} " + Row(r.getAs[Any]("carrier"),
          r.getAs[Any]("avg_dep_delay"), r.getAs[Any]("rank"))).sorted.toSeq
      val want = keyed.toSeq.flatMap { case (a, m) => m.values.map(r => s"$a $r") }.sorted
      got == want
    }
    rec.check("distribution fit produced fits", fits > 0, s"$fits fits")
    ingest.check(spark, rec, out, runSeed)
    oracleDirs = for {
      (q, entry, renames) <- entryOf
      (schema, rows) <- pipelineRows.get(q).toSeq
    } yield {
      val df = spark.createDataFrame(rows.toSeq.asJava, schema)
      val named = if (renames.isEmpty) df
        else df.select(renames.map { case (from, to) => col(from).as(to) }: _*)
      val target = s"$out/oracle/$entry"
      named.coalesce(1).write.mode("overwrite").parquet(target)
      Map("name" -> entry, "sql" -> SparkEntry.oracleSql(entry), "rows" -> target,
        "input" -> dir, "columns" -> renames.map(_._2).mkString(","))
    }
  }

  def oracle: Seq[Map[String, String]] = oracleDirs
}

/** Physical-plan facts about a finished query. */
object Plans extends AdaptiveSparkPlanHelper {
  def filesRead(df: DataFrame): Double =
    collect(df.queryExecution.executedPlan) {
      case s: DataSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum.toDouble
}
