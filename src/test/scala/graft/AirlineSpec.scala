package graft

import java.sql.Date

import org.apache.spark.sql.DataFrame

import graft.operators.Airline

/** Golden-style tests of the eight reference queries on a handcrafted
  * deterministic fixture (FIXTURES.md §A spirit, in-memory).
  */
class AirlineSpec extends SparkSpec {
  import spark.implicits._

  // (FlightDate, UniqueCarrier, FlightNum, Origin, Dest, DepTime, DepDelay, ArrDelay)
  private def row(d: String, c: String, n: Int, o: String, dst: String,
      dep: String, dd: Double, ad: java.lang.Double) =
    (Date.valueOf(d), c, n, o, dst, dep, dd, ad)

  lazy val flights: DataFrame = Seq(
    row("2008-01-01", "AA", 1, "ORD", "SFO", "0800", 5.0, 10.0),
    row("2008-01-01", "AA", 2, "ORD", "JFK", "0900", 0.0, -5.0),
    row("2008-01-01", "UA", 3, "SFO", "ORD", "1000", 20.0, 30.0),
    row("2008-01-02", "UA", 4, "JFK", "ORD", "1100", -5.0, 0.0),
    row("2008-01-02", "HA", 5, "SEA", "SFO", "1300", 2.0, -1.0),
    row("2008-01-03", "HA", 6, "SFO", "SEA", "1400", 1.0, null),
    row("2007-06-01", "AA", 7, "ORD", "SFO", "1500", 3.0, 7.0)
  ).toDF("FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
    "DepTime", "DepDelay", "ArrDelay")

  test("A1/T1: traffic double-counts origin and dest; top10 ordered desc") {
    val top = Airline.top10Airports(flights).as[(String, Long)].collect().toSeq
    // ORD: 3 origins + 2 dests = 5; SFO: 2+3 = 5 -> tie broken by name asc
    assert(top.take(2) === Seq(("ORD", 5L), ("SFO", 5L)))
    assert(top.map(_._2) === top.map(_._2).sorted.reverse)
  }

  test("A2/T2: airlines ranked ASCENDING by avg ArrDelay; nulls dropped") {
    val got = Airline.top10AirlinesOnTime(flights)
      .as[(String, Double)].collect().toSeq
    // HA: avg(-1) [null row dropped] ; AA: avg(10,-5,7)=4 ; UA: avg(30,0)=15
    assert(got === Seq(("HA", -1.0), ("AA", 4.0), ("UA", 15.0)))
  }

  test("A3/T3: per-airport carrier ranking, ascending delay, rank column") {
    val got = Airline.top10CarriersPerAirport(flights)
      .select("Origin", "UniqueCarrier", "rank")
      .as[(String, String, Int)].collect().toSet
    assert(got.contains(("ORD", "AA", 1)))
    // SFO: UA avg 20, HA avg 1 -> HA first
    assert(got.contains(("SFO", "HA", 1)) && got.contains(("SFO", "UA", 2)))
  }

  test("T4: sorted frequencies are descending, one column") {
    val freqs = Airline.sortedFrequencies(flights).as[Long].collect().toSeq
    assert(freqs === freqs.sorted.reverse)
    assert(freqs.sum === flights.count() * 2)
  }

  test("A5: distinct airports from both roles") {
    val got = Airline.airports(flights).as[String].collect().toSet
    assert(got === Set("ORD", "SFO", "JFK", "SEA"))
  }

  test("J3: triplets exclude stop==origin and stop==dest, allow origin==dest (R:458)") {
    val aps = Seq("A", "B", "C").toDF("airport")
    val t = Airline.originStopDest(aps)
      .as[(String, String, String)].collect().toSet
    assert(t.contains(("A", "B", "A")))     // origin == dest allowed
    assert(!t.exists { case (o, s, d) => s == o || s == d })
    assert(t.size === 3 * 2 * 2)
  }

  test("J4: requests are triplets x dates, bounded (R:500)") {
    val aps = Seq("A", "B").toDF("airport")
    val trips = Airline.originStopDest(aps) // 2*1*1 = 2 triplets
    val reqs = Airline.generateRequests(trips, maxRequests = 100)
    assert(reqs.count() === 100)
    val full = Airline.generateRequests(trips, maxRequests = 1000000)
    assert(full.count() === 2L * 366L)      // 2008 is a leap year
  }

  test("G3Q2: bestLegs picks min ArrDelay per leg with +2-day leg2 key (R:542-549)") {
    val legsFlights = Seq(
      // leg1 candidates ORD->SEA on 2008-08-16, before noon
      row("2008-08-16", "AA", 10, "ORD", "SEA", "0700", 0.0, 17.0),
      row("2008-08-16", "UA", 11, "ORD", "SEA", "0800", 0.0, 3.0),   // best
      row("2008-08-16", "DL", 12, "ORD", "SEA", "1300", 0.0, -20.0), // afternoon -> excluded
      // leg2 candidates SEA->JFK on 2008-08-18 (= request + 2), after noon
      row("2008-08-18", "AS", 20, "SEA", "JFK", "1400", 0.0, -5.0),  // best
      row("2008-08-18", "B6", 21, "SEA", "JFK", "1500", 0.0, 4.0),
      row("2008-08-18", "WN", 22, "SEA", "JFK", "0900", 0.0, -30.0), // morning -> excluded
      // wrong-date leg2 (on request date itself) -> excluded
      row("2008-08-16", "F9", 23, "SEA", "JFK", "1400", 0.0, -50.0)
    ).toDF("FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
      "DepTime", "DepDelay", "ArrDelay")

    val requests = Seq(("ORD", "SEA", "JFK", Date.valueOf("2008-08-16")))
      .toDF("origin", "stop", "dest", "request_date")

    val legs = Airline.legCandidates(legsFlights)
    val best = Airline.bestLegs(requests, legs)
    val r = best.select("leg1.UniqueCarrier", "leg1.ArrDelay",
      "leg2.UniqueCarrier", "leg2.ArrDelay").head()
    assert((r.getString(0), r.getDouble(1)) === ("UA", 3.0))
    assert((r.getString(2), r.getDouble(3)) === ("AS", -5.0))

    val fmt = Airline.formatBestLegs(best).head()
    assert(fmt.getString(fmt.fieldIndex("leg1_sched_dep")) === "08:00 16/08/2008")
    assert(fmt.getString(fmt.fieldIndex("leg2_arr_delay")) === "-5.00")
  }

  test("G3Q2 golden: formatBestLegs matches the checked-in fixture byte-exact (R:553-571)") {
    // two requests; the second exercises the full formatting surface:
    // malformed-DepTime day carry (2400 + 780 min delay -> sched 11:00
    // SAME day), dd/MM ordering on a single-digit month, negative and
    // fractional %.2f delays
    val legsFlights = Seq(
      row("2008-08-16", "AA", 10, "ORD", "SEA", "0700", 0.0, 17.0),
      row("2008-08-16", "UA", 11, "ORD", "SEA", "0800", 0.0, 3.5),   // best leg1 r1
      row("2008-08-18", "AS", 20, "SEA", "JFK", "1400", 0.0, -5.25), // best leg2 r1
      row("2008-08-18", "B6", 21, "SEA", "JFK", "1500", 0.0, 4.0),
      row("2008-03-01", "WN", 30, "ORD", "LAX", "2400", 780.0, -2.5), // only leg1 r2
      row("2008-03-03", "DL", 40, "LAX", "JFK", "1330", 5.0, 12.3)    // only leg2 r2
    ).toDF("FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
      "DepTime", "DepDelay", "ArrDelay")
    val requests = Seq(
      ("ORD", "SEA", "JFK", Date.valueOf("2008-08-16")),
      ("ORD", "LAX", "JFK", Date.valueOf("2008-03-01")))
      .toDF("origin", "stop", "dest", "request_date")

    val fmt = Airline.formatBestLegs(
      Airline.bestLegs(requests, Airline.legCandidates(legsFlights)))
      .orderBy("origin", "stop", "dest", "request_date")
    val lines = fmt.collect().toSeq
      .map(_.toSeq.map(String.valueOf).mkString("|"))
    val golden = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/best_legs_golden.txt")),
      java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    assert(lines === golden,
      "formatted best-legs output drifted from the golden fixture")
  }

  test("G3Q2: request with no candidate legs is dropped (inner semantics, R:549)") {
    val requests = Seq(("ORD", "SEA", "JFK", Date.valueOf("2008-08-16")),
      ("XXX", "YYY", "ZZZ", Date.valueOf("2008-08-16")))
      .toDF("origin", "stop", "dest", "request_date")
    val legsFlights = Seq(
      row("2008-08-16", "UA", 11, "ORD", "SEA", "0800", 0.0, 3.0),
      row("2008-08-18", "AS", 20, "SEA", "JFK", "1400", 0.0, -5.0)
    ).toDF("FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
      "DepTime", "DepDelay", "ArrDelay")
    val best = Airline.bestLegs(requests, Airline.legCandidates(legsFlights))
    assert(best.count() === 1)
  }

  test("G3Q2: noon boundary — 12:00 sched departure is a leg2, not a leg1") {
    val legsFlights = Seq(
      row("2008-08-16", "AA", 30, "ORD", "SEA", "1200", 0.0, 1.0),
      row("2008-08-18", "AS", 31, "SEA", "JFK", "1200", 0.0, 2.0)
    ).toDF("FlightDate", "UniqueCarrier", "FlightNum", "Origin", "Dest",
      "DepTime", "DepDelay", "ArrDelay")
    val requests = Seq(("ORD", "SEA", "JFK", Date.valueOf("2008-08-16")))
      .toDF("origin", "stop", "dest", "request_date")
    val best = Airline.bestLegs(requests, Airline.legCandidates(legsFlights))
    // leg1 at exactly noon excluded -> no leg1 -> no joined row
    assert(best.count() === 0)
  }

  test("P3: legCandidates keeps only 2008 (R:512) and derives sched_dep") {
    val legs = Airline.legCandidates(flights)
    assert(legs.count() === 5) // 6 rows in 2008 minus 1 null-ArrDelay
    assert(legs.columns.contains("sched_dep"))
  }
}
