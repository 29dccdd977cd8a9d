package perfbench

import org.apache.spark.sql.SparkSession

import graft.IngestDemo

/** One `IngestDemo.stagesOver` pass over a small seeded corpus:
  * bootstrap (`boot_*`), one delivery of a seeded 20% slice (`inc_*`)
  * and recalibration (`cal_*`), each stage timed as one call. Its
  * inputs are made outside the timed calls, in a fresh dir under the
  * run dir, as is its work dir.
  *
  * The pass is ~520 Spark jobs, about a minute whatever the corpus
  * size, so it fits in no untraced run's budget; the traced run of the
  * airline workload, the shorter one, runs it after its own phases,
  * outside all of its end-to-end metrics. Checking every fold takes
  * longer than the pass, so each run checks a seeded sample of them.
  */
final class IngestCycle(nDocs: Int, nChecks: Int) {
  private var inputs: Option[String] = None

  /** (corpus docs, delivered docs, corpus vectors, delivered vectors) */
  private def frames(spark: SparkSession, dir: String, seed: Long) = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    (docs.filter(!DataGen.delivered(seed)), docs.filter(DataGen.delivered(seed)),
      vecs.filter(!DataGen.delivered(seed, "vec_id")),
      vecs.filter(DataGen.delivered(seed, "vec_id")))
  }

  def run(spark: SparkSession, rec: Recorder, out: String, seed: Long): Unit = {
    val dir = s"$out/ingest-input"
    DataGen.documents(spark, dir, nDocs, seed)
    DataGen.embeddings(spark, dir, nDocs, seed)
    inputs = Some(dir)
    val (base, dlv, embBase, embDlv) = frames(spark, dir, seed)
    val work = s"$out/ingest-work"
    for ((stage, body) <- IngestDemo.stagesOver(spark, base, dlv, embBase, embDlv, work)) {
      rec.timed(spark, "IngestDemo", stage, "ingest")(body())
      spark.sharedState.cacheManager.clearCache()
    }
    rec.phaseEnd()
  }

  def check(spark: SparkSession, rec: Recorder, out: String, seed: Long): Unit =
    for (dir <- inputs) {
      val (base, dlv, embBase, embDlv) = frames(spark, dir, seed)
      val work = s"$out/ingest-work"
      val all = IngestDemo.checksOver(spark, base, dlv, embBase, embDlv, work)
      for ((label, body) <- new scala.util.Random(seed).shuffle(all).take(nChecks)) {
        rec.checking(s"IngestDemo: $label") { body(); true }
        spark.sharedState.cacheManager.clearCache()
      }
    }
}
