package graft

/** Pins Bench's leg accounting: a leg that throws is recorded as
  * failed, with its message, and adds nothing to any total — a
  * failure must never read as a smaller number. Also pins the prior-
  * run baselines: the dicts Bench writes are the dicts it reads back.
  */
class BenchSpec extends SparkSpec {
  test("a throwing leg is recorded as failed and adds nothing to any total") {
    val ok = Bench.timed(spark, "ok_leg")(spark.range(10).count())
    val bad = Bench.timed(spark, "bad_leg")(
      throw new IllegalStateException("boom"))
    assert(ok.sec.exists(_ >= 0.0))
    assert(bad.sec.left.exists(_.contains("boom")))
    assert(Bench.seconds(Seq(ok, bad)) === ok.sec.toOption.get)
    assert(Bench.seconds(Seq(bad)) === 0.0)
    assert(Bench.failures(Seq(ok, bad, bad)).map(_._1) === Seq("bad_leg"))
    // the leg's job group does not leak past a throwing body
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("a prior run's wall and cpu dicts read back from Bench's own detail file") {
    import org.json4s.jackson.JsonMethods.parse
    val sf = "/data/sf0.01"
    val results = Seq(
      "q01_a" -> Bench.Stat(1.2345, 1.5, 0.25, 0.0),
      "q02_b" -> Bench.Stat(12.5, 13.0, 40.125, 0.5))
    val detail = Bench.detailJson(sf, 3, results,
      Seq(Bench.Leg("pair_build", Right(2.0))),
      Seq(Bench.Leg("inc_x", Left("boom \"quoted\""))),
      Seq(("q02_b", 1.6, 1.3)), Seq("inc_x" -> "boom \"quoted\""))
    val wall = Map("q01_a" -> 1.2345, "q02_b" -> 12.5)
    val cpu = Map("q01_a" -> 0.25, "q02_b" -> 40.125)
    assert(Bench.priorDicts(parse(detail), sf, "cpu_sec") === Some((wall, cpu)))
    // a run at another scale factor is no baseline
    assert(Bench.priorDicts(parse(detail), "/data/sf0.1", "cpu_sec") === None)
    // a driver artifact wraps the headline in its captured output
    val headline = """{"metric":"total","value":13.7,"unit":"sec",""" +
      """"queries":{"q01_a":1.2,"q02_b":12.5},"cpu":{"q01_a":0.3,"q02_b":40.1},""" +
      s""""sf":"$sf","runs":3,"failed_n":0}"""
    val artifact = s"""{"n":7,"rc":0,"sf":0.01,"tail":""" +
      Verify.jsonString(s"log line\n$headline\n[success] Total time: 9 s\n") + "}"
    assert(Bench.priorDicts(Bench.wrappedHeadline(parse(artifact)), sf, "cpu") ===
      Some((Map("q01_a" -> 1.2, "q02_b" -> 12.5), Map("q01_a" -> 0.3, "q02_b" -> 40.1))))
  }
}
