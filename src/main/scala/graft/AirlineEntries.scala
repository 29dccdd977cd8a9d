package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.AirlineFunctions.minutesOfDay
import graft.operators.Airline
import graft.sources.Tables

/** Oracle-gated entries (a01..a08) for the reference's eight airline
  * queries (README.md R:141-575) — the actual parity surface of this
  * engine, previously pinned only by ScalaTest.
  *
  * The driver's DuckDB oracle sees only the star-schema parquet
  * tables, so a deterministic on-time table is SYNTHESIZED from
  * `orders` with identical integer-derived expressions in both
  * engines (double-modulus mixing decorrelates the TPC-H orderkey
  * residue structure). The synthesis deliberately plants the
  * reference's dirty-data cases so the oracle actually exercises
  * them: DepTime hours ≥ 24 (≈7.5% of rows → F3 repair, R:513),
  * NULL delays (→ P2 null guards), and FlightDates spilling past
  * 2008 (→ P3 year filter, R:512).
  *
  * Determinism contract: all delays are integer-valued doubles, so
  * sums/averages are exact under any summation order; every ranking
  * carries a total-order tiebreak; timestamps are derived in integer
  * seconds (UTC) on both sides.
  */
object AirlineEntries {

  private def $(name: String): Column = col(name)

  /** Deterministic on-time table from `orders` (flight schema:
    * graft.engine.Ingest.flightSchema names).
    */
  def syntheticFlights(t: Tables): DataFrame = {
    val k = $("o_orderkey")
    t.orders.select(
      date_add(to_date(lit("2008-01-01")),
        (k * 41 % 811 % 400).cast("int")).as("FlightDate"),
      concat(lit("C"), (k * 31 % 101 % 7).cast("string")).as("UniqueCarrier"),
      (k % 1000).cast("int").as("FlightNum"),
      concat(lit("AP"), (k * 61 % 257 % 17).cast("string")).as("Origin"),
      concat(lit("AP"), (k * 67 % 263 % 17).cast("string")).as("Dest"),
      ((k * 131 % 1063 % 26) * 100 + k * 173 % 997 % 60).cast("int").as("DepTime"),
      when(k % 89 === 0, lit(null))
        .otherwise((k * 211 % 1009 % 180 - 30).cast("double")).as("DepDelay"),
      when(k % 97 === 0, lit(null))
        .otherwise((k * 229 % 1013 % 200 - 40).cast("double")).as("ArrDelay"))
  }

  /** Requests for the trip planner (bounded, deterministic): every
    * (origin, stop, dest, date) with at least one valid leg pair in
    * the first week of 2008 — guaranteed-joinable, so a08 gates the
    * full join+argmin path, not an empty result.
    */
  private def requests(legs: DataFrame): DataFrame = {
    val l1 = legs.filter(minutesOfDay($("sched_dep")) < 720 &&
        $("FlightDate").between("2008-01-01", "2008-01-07"))
      .select($("Origin").as("o1"), $("Dest").as("d1"), $("FlightDate").as("fd1"))
    val l2 = legs.filter(minutesOfDay($("sched_dep")) >= 720)
      .select($("Origin").as("o2"), $("FlightDate").as("fd2"), $("Dest").as("d2"))
    l1.join(l2, $("o2") === $("d1") && $("fd2") === date_add($("fd1"), 2))
      .select($("o1").as("origin"), $("d1").as("stop"),
        $("d2").as("dest"), $("fd1").as("request_date"))
      .distinct()
  }

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables(s, dir))

  /** Committed planted-dirty CSV fixture (two files → the glob
    * exercises multi-file discovery, S1). Plants every cleaning case
    * readCsv must handle: malformed dates / ints / doubles (dropped
    * rows), NULL delays and DepTimes (per-query guards), hour ≥ 24
    * DepTimes (F3 repair), leap-day, and out-of-2008 dates (P3).
    */
  val csvFixtureGlob: String = fixtureGlob("flights_dirty/*.csv")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Group 1 Q1 (R:143-165): top-10 airports by total traffic
    "a01_top_airports" -> q(t =>
      Airline.top10Airports(syntheticFlights(t))),
    // Group 1 Q2 (R:167-189): top-10 carriers by on-time arrival
    "a02_top_airlines" -> q(t =>
      Airline.top10AirlinesOnTime(syntheticFlights(t))
        .withColumnRenamed("UniqueCarrier", "carrier")),
    // Group 2 Q1 (R:191-243): per-airport carrier ranking; also
    // carries the F1 space-joined composite key ("CMI OH" style
    // output formatting, R:201-202) so F1 has an oracle row
    "a03_carriers_per_airport" -> q(t =>
      Airline.top10CarriersPerAirport(syntheticFlights(t))
        .select($("Origin").as("origin"), $("UniqueCarrier").as("carrier"),
          graft.functions.AirlineFunctions
            .compositeKey($("Origin"), $("UniqueCarrier")).as("composite_key"),
          $("avg_dep_delay"), $("rank").cast("long").as("rank"))),
    // Group 2 Q2 (R:285-331): per-airport destination ranking
    "a04_dest_per_airport" -> q(t =>
      Airline.top10DestPerAirport(syntheticFlights(t))
        .select($("Origin").as("origin"), $("Dest").as("dest"),
          $("avg_dep_delay"), $("rank").cast("long").as("rank"))),
    // Group 2 Q3 (R:333-371): per-route carrier ranking
    "a05_carriers_per_route" -> q(t =>
      Airline.top10CarriersPerRoute(syntheticFlights(t))
        .select($("Origin").as("origin"), $("Dest").as("dest"),
          $("UniqueCarrier").as("carrier"), $("avg_arr_delay"),
          $("rank").cast("long").as("rank"))),
    // Group 3 Q1 (R:373-401): traffic frequencies, sorted desc
    "a06_sorted_frequencies" -> q(t =>
      Airline.sortedFrequencies(syntheticFlights(t))),
    // Leg candidates (R:505-534): year filter + F3 repair + F4 derive
    "a07_leg_candidates" -> q(t =>
      Airline.legCandidates(syntheticFlights(t))
        .select($("FlightDate").as("flight_date"),
          $("UniqueCarrier").as("carrier"),
          $("FlightNum").cast("long").as("flightnum"),
          $("Origin").as("origin"), $("Dest").as("dest"),
          $("sched_dep"), $("ArrDelay").as("arr_delay"))),
    // Group 3 Q2 (R:432-575): the two-leg trip planner, formatted per
    // the goldens (R:553-571) — gates the noon boundary, the ±2-day
    // join key, and the argmin tiebreak
    // NOTE: legs feeds four join sides; persisting it here measured
    // 3.2s → 154s (the PLANS.md #4 trap: the cache's size estimate
    // re-plans the joins into a serialized broadcast chain). The
    // narrow re-derivation from the orders scan is cheap; leave it.
    "a08_best_legs" -> q { t =>
      val legs = Airline.legCandidates(syntheticFlights(t))
      Airline.formatBestLegs(Airline.bestLegs(requests(legs), legs))
        .withColumn("leg1_flightnum", $("leg1_flightnum").cast("long"))
        .withColumn("leg2_flightnum", $("leg2_flightnum").cast("long"))
    },
    // Raw-CSV ingest path (R:111-131): schema'd DROPMALFORMED read over
    // a file glob → legCandidates — the one I/O edge every other oracle
    // row bypasses (they all read parquet). Ignores sfDir by design:
    // the input is the committed fixture.
    "a09_csv_ingest" -> ((s: SparkSession, _: String) =>
      Airline.legCandidates(graft.engine.Ingest.readCsv(s, csvFixtureGlob))
        .select($("FlightDate").as("flight_date"),
          $("UniqueCarrier").as("carrier"),
          $("FlightNum").cast("long").as("flightnum"),
          $("Origin").as("origin"), $("Dest").as("dest"),
          $("sched_dep"), $("ArrDelay").as("arr_delay"))),
    // S10 (R:626-631) + S7 (R:63-70): the full serving load path —
    // keyspace DDL, text → typed RequestLeg Dataset, keyed write
    // (requestlegsbyrequest's partition key, R:596-611), read-back of
    // the loaded table. Gates the loader's parse (F5 re-parse, int
    // truncation, malformed-line drop), the keyed round-trip, and the
    // deterministic surrogate id. Ignores sfDir: input is the
    // committed fixture (the reference's own golden lines, R:553-571).
    "a10_typed_loader" -> ((s: SparkSession, _: String) => {
      // entry-scoped database name (*_a10, matching ServingSpec's
      // *_test convention): the DDL exercise must never CASCADE-drop a
      // real database of the natural domain name in the host session
      graft.engine.Serving.createDatabase(s, "airline_ontime_a10")
      val tmp = java.nio.file.Files.createTempDirectory("graft-a10")
      try {
        val legs = graft.engine.Serving.loadRequestLegs(s, tomsLegsGlob)
        val dir = tmp.toString + "/requestlegsbyrequest"
        graft.engine.Serving.writeKeyed(legs.toDF(), dir,
          Seq("request_origin", "request_stop", "request_dest",
            "request_date"))
        // read-back fully materialized so the temp dir can be removed
        // in the finally below without invalidating the returned frame
        val out = graft.engine.ParquetRead.parquet(s, dir).select(
          $("request_origin"), $("request_stop"), $("request_dest"),
          $("request_date"), $("id"),
          $("leg_num").cast("long").as("leg_num"),
          $("leg_origin"), $("leg_dest"), $("leg_unique_carrier"),
          $("leg_flight_num").cast("long").as("leg_flight_num"),
          $("leg_scheduled_departure"),
          $("leg_arr_delay").cast("long").as("leg_arr_delay"))
          .localCheckpoint(true)
        out
      } finally {
        graft.engine.Serving.dropDatabase(s, "airline_ontime_a10")
        // best-effort temp cleanup (read-back is checkpointed above)
        def rm(f: java.io.File): Unit = {
          // listFiles() is null on I/O errors — never NPE inside a
          // finally (it would mask the try body's real exception)
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete()
        }
        rm(tmp.toFile)
      }
    }),
  )

  /** Committed toms_legs text fixture — the reference's own golden
    * loader input (R:553-571).
    */
  val tomsLegsGlob: String = fixtureGlob("toms_legs/*.txt")

  /** A committed test fixture glob, absolute against the working
    * directory (the checkout root under sbt and Verify), so the Spark
    * read and the DuckDB SQL both read this checkout's files.
    */
  private def fixtureGlob(rel: String): String =
    new java.io.File(s"src/test/resources/$rel").getAbsolutePath

  // ---------------------------------------------------------------
  // DuckDB twins — shared CTEs mirror syntheticFlights/legCandidates/
  // requests expression-for-expression.
  // ---------------------------------------------------------------

  private val flightsCte =
    """flights AS (SELECT
      |  DATE '2008-01-01' + CAST((o_orderkey * 41 % 811) % 400 AS INTEGER) AS FlightDate,
      |  'C' || CAST((o_orderkey * 31 % 101) % 7 AS VARCHAR) AS carrier,
      |  CAST(o_orderkey % 1000 AS BIGINT) AS flightnum,
      |  'AP' || CAST((o_orderkey * 61 % 257) % 17 AS VARCHAR) AS origin,
      |  'AP' || CAST((o_orderkey * 67 % 263) % 17 AS VARCHAR) AS dest,
      |  CAST(((o_orderkey * 131 % 1063) % 26) * 100
      |    + (o_orderkey * 173 % 997) % 60 AS INTEGER) AS deptime,
      |  CASE WHEN o_orderkey % 89 = 0 THEN NULL
      |       ELSE CAST((o_orderkey * 211 % 1009) % 180 - 30 AS DOUBLE) END AS depdelay,
      |  CASE WHEN o_orderkey % 97 = 0 THEN NULL
      |       ELSE CAST((o_orderkey * 229 % 1013) % 200 - 40 AS DOUBLE) END AS arrdelay
      |FROM orders)""".stripMargin

  /** legCandidates twin: F3 repair (carry = hh//24) + F4 scheduled
    * departure in integer epoch seconds.
    */
  private val legsCte =
    """legs AS (SELECT FlightDate, carrier, flightnum, origin, dest,
      |  make_timestamp((
      |    CAST(epoch(CAST(FlightDate AS TIMESTAMP)) AS BIGINT)
      |    + ((deptime // 100) // 24) * 86400
      |    + (((deptime // 100) % 24) * 60 + deptime % 100) * 60
      |    - CAST(depdelay AS BIGINT) * 60) * 1000000) AS sched_dep,
      |  arrdelay
      |FROM flights
      |WHERE EXTRACT(year FROM FlightDate) = 2008 AND arrdelay IS NOT NULL
      |  AND depdelay IS NOT NULL AND deptime IS NOT NULL)""".stripMargin

  private def mins(ts: String): String =
    s"(EXTRACT(hour FROM $ts)*60 + EXTRACT(minute FROM $ts))"

  private val reqsCte =
    s"""reqs AS (SELECT DISTINCT f1.origin AS r_origin, f1.dest AS r_stop,
       |       f2.dest AS r_dest, f1.FlightDate AS request_date
       |  FROM legs f1 JOIN legs f2
       |    ON f2.origin = f1.dest AND f2.FlightDate = f1.FlightDate + 2
       |  WHERE ${mins("f1.sched_dep")} < 720
       |    AND ${mins("f2.sched_dep")} >= 720
       |    AND f1.FlightDate BETWEEN DATE '2008-01-01' AND DATE '2008-01-07')""".stripMargin

  private val trafficCte =
    """traffic AS (SELECT airport, COUNT(*) AS cnt FROM (
      |  SELECT origin AS airport FROM flights
      |  UNION ALL SELECT dest FROM flights) GROUP BY airport)""".stripMargin

  private def legPick(n: Int, joinCond: String, noonCond: String): String =
    s"""l$n AS (SELECT r.r_origin, r.r_stop, r.r_dest, r.request_date,
       |  l.carrier, l.flightnum, l.origin AS lo, l.dest AS ld,
       |  l.sched_dep, l.arrdelay,
       |  row_number() OVER (
       |    PARTITION BY r.r_origin, r.r_stop, r.r_dest, r.request_date
       |    ORDER BY l.arrdelay, l.carrier, l.flightnum, l.sched_dep) AS rn
       |FROM reqs r JOIN legs l ON $joinCond
       |WHERE $noonCond)""".stripMargin

  private def legOut(n: Int): String =
    s"""r$n.carrier AS leg${n}_carrier, r$n.flightnum AS leg${n}_flightnum,
       |  r$n.lo AS leg${n}_origin, r$n.ld AS leg${n}_dest,
       |  strftime(r$n.sched_dep, '%H:%M %d/%m/%Y') AS leg${n}_sched_dep,
       |  printf('%.2f', r$n.arrdelay) AS leg${n}_arr_delay""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "a01_top_airports" ->
      s"""WITH $flightsCte, $trafficCte
         |SELECT airport, cnt FROM traffic
         |ORDER BY cnt DESC, airport LIMIT 10""".stripMargin,

    "a02_top_airlines" ->
      s"""WITH $flightsCte
         |SELECT carrier, AVG(arrdelay) AS avg_arr_delay
         |FROM flights WHERE arrdelay IS NOT NULL AND carrier IS NOT NULL
         |GROUP BY carrier
         |ORDER BY avg_arr_delay ASC, carrier ASC LIMIT 10""".stripMargin,

    "a03_carriers_per_airport" ->
      s"""WITH $flightsCte,
         |agg AS (SELECT origin, carrier, AVG(depdelay) AS avg_dep_delay
         |        FROM flights WHERE depdelay IS NOT NULL
         |        GROUP BY origin, carrier)
         |SELECT origin, carrier, origin || ' ' || carrier AS composite_key,
         |  avg_dep_delay, "rank" FROM (
         |  SELECT origin, carrier, avg_dep_delay,
         |    CAST(row_number() OVER (PARTITION BY origin
         |      ORDER BY avg_dep_delay ASC, carrier ASC) AS BIGINT) AS "rank"
         |  FROM agg) WHERE "rank" <= 10""".stripMargin,

    "a04_dest_per_airport" ->
      s"""WITH $flightsCte,
         |agg AS (SELECT origin, dest, AVG(depdelay) AS avg_dep_delay
         |        FROM flights WHERE depdelay IS NOT NULL
         |        GROUP BY origin, dest)
         |SELECT origin, dest, avg_dep_delay, "rank" FROM (
         |  SELECT origin, dest, avg_dep_delay,
         |    CAST(row_number() OVER (PARTITION BY origin
         |      ORDER BY avg_dep_delay ASC, dest ASC) AS BIGINT) AS "rank"
         |  FROM agg) WHERE "rank" <= 10""".stripMargin,

    "a05_carriers_per_route" ->
      s"""WITH $flightsCte,
         |agg AS (SELECT origin, dest, carrier, AVG(arrdelay) AS avg_arr_delay
         |        FROM flights WHERE arrdelay IS NOT NULL
         |        GROUP BY origin, dest, carrier)
         |SELECT origin, dest, carrier, avg_arr_delay, "rank" FROM (
         |  SELECT origin, dest, carrier, avg_arr_delay,
         |    CAST(row_number() OVER (PARTITION BY origin, dest
         |      ORDER BY avg_arr_delay ASC, carrier ASC) AS BIGINT) AS "rank"
         |  FROM agg) WHERE "rank" <= 10""".stripMargin,

    "a06_sorted_frequencies" ->
      s"""WITH $flightsCte, $trafficCte
         |SELECT cnt FROM traffic ORDER BY cnt DESC""".stripMargin,

    "a07_leg_candidates" ->
      s"""WITH $flightsCte, $legsCte
         |SELECT FlightDate AS flight_date, carrier, flightnum,
         |  origin, dest, sched_dep, arrdelay AS arr_delay
         |FROM legs ORDER BY flight_date, carrier, flightnum, sched_dep""".stripMargin,

    "a08_best_legs" ->
      s"""WITH $flightsCte, $legsCte, $reqsCte,
         |${legPick(1,
             "l.origin = r.r_origin AND l.dest = r.r_stop AND l.FlightDate = r.request_date",
             s"${mins("l.sched_dep")} < 720")},
         |${legPick(2,
             "l.origin = r.r_stop AND l.dest = r.r_dest AND l.FlightDate = r.request_date + 2",
             s"${mins("l.sched_dep")} >= 720")}
         |SELECT r1.r_origin AS origin, r1.r_stop AS stop, r1.r_dest AS dest,
         |  r1.request_date AS request_date,
         |  ${legOut(1)},
         |  ${legOut(2)}
         |FROM l1 r1 JOIN l2 r2
         |  ON r1.r_origin = r2.r_origin AND r1.r_stop = r2.r_stop
         |  AND r1.r_dest = r2.r_dest AND r1.request_date = r2.request_date
         |WHERE r1.rn = 1 AND r2.rn = 1
         |ORDER BY origin, stop, dest, request_date""".stripMargin,

    // readCsv twin: all-VARCHAR read, then DROPMALFORMED re-expressed
    // as explicit try_cast filters (a row dies iff any non-null typed
    // field fails its cast — exactly Spark's per-row semantics on this
    // schema), then the legCandidates twin (same expressions as a07's
    // legsCte, with deptime cast from the string column).
    "a09_csv_ingest" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$csvFixtureGlob',
         |    header=true, all_varchar=true)),
         |clean AS (
         |  SELECT try_cast(FlightDate AS DATE) AS FlightDate,
         |    UniqueCarrier AS carrier,
         |    try_cast(FlightNum AS BIGINT) AS flightnum,
         |    Origin AS origin, Dest AS dest,
         |    try_cast(DepTime AS INTEGER) AS deptime,
         |    try_cast(DepDelay AS DOUBLE) AS depdelay,
         |    try_cast(ArrDelay AS DOUBLE) AS arrdelay
         |  FROM raw
         |  WHERE (FlightDate IS NULL OR try_cast(FlightDate AS DATE) IS NOT NULL)
         |    AND (FlightNum IS NULL OR try_cast(FlightNum AS INTEGER) IS NOT NULL)
         |    AND (DepDelay IS NULL OR try_cast(DepDelay AS DOUBLE) IS NOT NULL)
         |    AND (ArrDelay IS NULL OR try_cast(ArrDelay AS DOUBLE) IS NOT NULL)),
         |legs AS (SELECT FlightDate, carrier, flightnum, origin, dest,
         |  make_timestamp((
         |    CAST(epoch(CAST(FlightDate AS TIMESTAMP)) AS BIGINT)
         |    + ((deptime // 100) // 24) * 86400
         |    + (((deptime // 100) % 24) * 60 + deptime % 100) * 60
         |    - CAST(depdelay AS BIGINT) * 60) * 1000000) AS sched_dep,
         |  arrdelay
         |FROM clean
         |WHERE EXTRACT(year FROM FlightDate) = 2008 AND arrdelay IS NOT NULL
         |  AND depdelay IS NOT NULL AND deptime IS NOT NULL)
         |SELECT FlightDate AS flight_date, carrier, flightnum,
         |  origin, dest, sched_dep, arrdelay AS arr_delay
         |FROM legs ORDER BY flight_date, carrier, flightnum""".stripMargin,

    // loadRequestLegs twin: tab-split record, space-split payloads,
    // F5 strptime, double->int truncation (golden delays are .00),
    // md5-of-natural-key surrogate id — the keyed write/read-back is
    // value-preserving so the oracle parses the text directly
    "a10_typed_loader" ->
      s"""WITH raw AS (
         |  SELECT * FROM read_csv('$tomsLegsGlob', delim='\\t',
         |    header=false, quote='',
         |    columns={'tag': 'VARCHAR', 'req': 'VARCHAR', 'leg': 'VARCHAR'})),
         |parsed AS (
         |  SELECT string_split(req, ' ') AS r, string_split(leg, ' ') AS l
         |  FROM raw
         |  WHERE tag = 'request' AND len(string_split(req, ' ')) = 5
         |    AND len(string_split(leg, ' ')) = 7)
         |SELECT r[1] AS request_origin, r[2] AS request_stop,
         |  r[3] AS request_dest,
         |  CAST(r[4] AS DATE) AS request_date,
         |  md5(concat_ws(' ', r[1], r[2], r[3],
         |    CAST(CAST(r[4] AS DATE) AS VARCHAR), substr(r[5], 4))) AS id,
         |  CAST(substr(r[5], 4) AS BIGINT) AS leg_num,
         |  l[1] AS leg_origin, l[2] AS leg_dest,
         |  l[3] AS leg_unique_carrier,
         |  CAST(l[4] AS BIGINT) AS leg_flight_num,
         |  strptime(l[5] || ' ' || l[6], '%H:%M %d/%m/%Y')
         |    AS leg_scheduled_departure,
         |  CAST(trunc(CAST(l[7] AS DOUBLE)) AS BIGINT) AS leg_arr_delay
         |FROM parsed
         |ORDER BY request_origin, request_stop, request_dest,
         |  request_date, leg_num""".stripMargin,
  )
}
