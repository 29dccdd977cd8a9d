package graft

/** Pins job-group attribution: work that runs concurrently under two
  * job groups is charged to its own group only, and a drained reading
  * is final.
  */
class JobGroupMetricsSpec extends SparkSpec {
  test("concurrent job groups each get exactly their own jobs, cpu and shuffle") {
    val sc = spark.sparkContext
    val metrics = JobGroupMetrics.attach(sc)
    // one job per call: a shuffle map stage and a result stage
    def shuffleJob(): Unit = {
      sc.parallelize(1 to 200000, 4)
        .map(i => (i % 7, math.sqrt(i.toDouble)))
        .reduceByKey(_ + _)
        .count()
      ()
    }
    def chain(group: String, jobs: Int): () => Unit = () => {
      sc.setJobGroup(group, group)
      try (1 to jobs).foreach(_ => shuffleJob())
      finally sc.clearJobGroup()
    }
    try {
      Overlap.inParallel(chain("jgm-a", 2), chain("jgm-b", 5))
      // work outside any group is charged to none
      shuffleJob()
      metrics.drain()
      val a = metrics("jgm-a")
      val b = metrics("jgm-b")
      assert(a.jobs === 2)
      assert(b.jobs === 5)
      for (s <- Seq(a, b)) {
        assert(s.cpuNs > 0L)
        assert(s.shuffleWriteBytes > 0L)
        assert(s.shuffleReadBytes > 0L)
        assert(s.taskShuffleReads.nonEmpty)
        assert(s.taskShuffleReads.sum === s.shuffleReadBytes)
      }
      assert(metrics("jgm-idle") === JobGroupMetrics.Stats())
      Thread.sleep(300)
      metrics.drain()
      assert(metrics("jgm-a") === a)
      assert(metrics("jgm-b") === b)
    } finally sc.removeSparkListener(metrics)
  }
}
