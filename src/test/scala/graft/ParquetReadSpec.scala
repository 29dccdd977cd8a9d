package graft

import java.nio.file.Files

import graft.engine.{ParquetRead, Serving}

/** Pins [[ParquetRead.parquet]] to `spark.read.parquet`: the same
  * schema on every input shape the program reads, the same error for
  * a path with no data file, and no Spark job to get there — so a
  * keyed point lookup is one job, the scan.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** `body`'s value and the driver jobs it ran, counted in its own
    * job group.
    */
  private def withJobs[A](group: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val metrics = JobGroupMetrics.attach(sc)
    try {
      sc.setJobGroup(group, group)
      val a = try body finally sc.clearJobGroup()
      metrics.drain()
      (a, metrics(group).jobs)
    } finally sc.removeSparkListener(metrics)
  }

  private def sameAsSpark(path: String): Unit = {
    val (got, jobs) = withJobs(s"schema:$path")(ParquetRead.parquet(spark, path))
    assert(jobs === 0, s"$path: reading the schema ran $jobs jobs")
    assert(got.schema === spark.read.parquet(path).schema, path)
  }

  test("schema equals spark.read.parquet's, with no job, on every input shape") {
    // the testdata tables; events.ts is nanos, read as LONG
    Seq("documents", "events", "lineitem", "orders", "embeddings")
      .foreach(t => sameAsSpark(s"$sfDir/$t.parquet"))
    // a keyed table: partition columns inferred from the directory
    // names, before and after an upsert and a delete rewrite files
    val dir = Files.createTempDirectory("graft-pqread").toString
    val keyed = s"$dir/keyed"
    Serving.writeKeyed(Seq(
      ("CMI", "MQ", 1L, 0.61), ("CMI", "OH", 2L, 0.97),
      ("BWI", "F9", 3L, 0.16), ("BWI", "MQ", 4L, 1.45)
    ).toDF("airport", "carrier", "id", "avg_dep_delay"), keyed,
      Seq("airport", "carrier"))
    sameAsSpark(keyed)
    Serving.upsertKeyed(spark, keyed,
      Seq(("AAA", "MQ", 5L, 0.5)).toDF("airport", "carrier", "id",
        "avg_dep_delay"), Seq("airport", "carrier"), Seq("id"))
    sameAsSpark(keyed)
    Serving.deleteKeyed(spark, keyed,
      Seq(("AAA", "MQ", 5L)).toDF("airport", "carrier", "id"),
      Seq("airport", "carrier"), Seq("id"))
    sameAsSpark(keyed)
    // an empty store still has one schema-carrying file
    val empty = s"$dir/empty"
    Seq.empty[(Long, String)].toDF("doc_id", "fp").write.parquet(empty)
    sameAsSpark(empty)
  }

  test("a path with no data file raises spark.read.parquet's own error") {
    val dir = Files.createTempDirectory("graft-pqread-none").toFile
    val onlyHidden = new java.io.File(dir, "hidden")
    assert(onlyHidden.mkdirs())
    assert(new java.io.File(onlyHidden, "_SUCCESS").createNewFile())
    assert(new java.io.File(onlyHidden, ".part.crc").createNewFile())
    val emptyDir = new java.io.File(dir, "empty")
    assert(emptyDir.mkdirs())
    Seq(s"$dir/missing", onlyHidden.toString, emptyDir.toString).foreach { p =>
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](ParquetRead.parquet(spark, p))
      assert(got.getClass === want.getClass, p)
      assert(got.getMessage === want.getMessage, p)
    }
  }

  test("a keyed point lookup runs one job") {
    val dir = Files.createTempDirectory("graft-pqread-lookup").toString + "/t"
    Serving.writeKeyed(Seq(
      ("CMI", "MQ", 1L), ("CMI", "OH", 2L), ("BWI", "F9", 3L)
    ).toDF("airport", "carrier", "id"), dir, Seq("airport"))
    val (ids, jobs) = withJobs("lookup") {
      Serving.lookup(spark, dir, Map("airport" -> "CMI"))
        .select("id").as[Long].collect().toSeq.sorted
    }
    assert(ids === Seq(1L, 2L))
    assert(jobs === 1, s"a point lookup ran $jobs jobs")
  }
}
