package graft

import java.nio.file.Files

/** IngestDemo end-to-end at sf0.001: every stage runs, the delivery
  * funnel is a monotone non-empty chain, and every fold/invariant
  * check passes — the incremental-delivery pipeline's
  * fold==from-scratch contract as part of `sbt test`.
  */
class IngestSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("ingest pipeline: stages run, folds == from-scratch, funnel monotone") {
    val work = Files.createTempDirectory("graft-ingest-spec").toString
    val (base, dlv, embBase, embDlv) = IngestDemo.fixtureSplit(spark, sfDir)
    try {
      for ((name, fn) <- IngestDemo.stagesOver(spark, base, dlv, embBase, embDlv, work)) {
        withClue(s"stage $name: ") { fn() }
        spark.sharedState.cacheManager.clearCache()
      }
      def n(p: String): Long = spark.read.parquet(s"$work/$p").count()
      val (total, exact, near, span, admitted) =
        (n("delivery_status"), n("admit_exact"), n("admit_near"),
          n("admit_span"), n("admitted"))
      assert(total > 0, "empty delivery")
      assert(total >= exact && exact >= near && near >= span &&
        span >= admitted, s"non-monotone funnel: $total/$exact/$near/$span/$admitted")
      assert(admitted > 0, "gate chain admitted nothing — thresholds degenerate")
      for ((name, fn) <- IngestDemo.checksOver(spark, base, dlv, embBase, embDlv, work)) {
        withClue(s"check $name: ") { fn() }
        spark.sharedState.cacheManager.clearCache()
      }
      // takedown generation: retract a removal slice from every
      // store, then every _v2 artifact == rebuild over the survivors
      for ((name, fn) <- IngestDemo.takedownStagesOver(spark, base, dlv, embBase, embDlv,
          work)) {
        withClue(s"stage $name: ") { fn() }
        spark.sharedState.cacheManager.clearCache()
      }
      for ((name, fn) <- IngestDemo.takedownChecksOver(spark, base, dlv, embBase, embDlv,
          work)) {
        withClue(s"check $name: ") { fn() }
        spark.sharedState.cacheManager.clearCache()
      }
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }
}
