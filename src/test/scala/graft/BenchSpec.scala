package graft

/** Pins Bench's leg accounting: a leg that throws is recorded as
  * failed, with its message, and adds nothing to any total — a
  * failure must never read as a smaller number.
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
}
