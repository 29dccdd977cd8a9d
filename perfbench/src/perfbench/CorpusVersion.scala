package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{ComposedArtifacts, SparkEntry}
import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.streaming.DocStreams

/** One corpus version. The suffix-array warehouse family is built into
  * an empty warehouse through `ComposedArtifacts`, then every entry
  * that serves from it runs once, in a seeded order.
  *
  * The traced run then also streams a seeded 20% delivery slice, one
  * file per micro-batch, through `DocStreams.dedupedDocs` and
  * `DocStreams.compositeGateStream`, builds the decontamination family
  * and serves its entries, outside the end-to-end phases: the untraced
  * runs have no room for them in the benchmark's time budget.
  */
final class CorpusVersion(nDocs: Int, streamFiles: Int) extends Workload {
  val name = "corpus_version"
  val scale = s"$nDocs documents"

  /** Each family built, with the entries that serve from it; the
    * second is built in the traced run only.
    */
  val families: Seq[(String, Seq[String])] = Seq(
    "suffix" -> Seq("q230_suffix_repeats", "q231_doc_repeats",
      "q232_suffix_array", "q241_suffix_fold", "q242_suffix_retract",
      "q243_suffix_doc_profile", "q248_suffix_hot_fold"),
    "decon" -> Seq("q43_decontaminate", "q76_boilerplate",
      "q93_contamination", "q143_bench_contamination"))

  private val Pos = Seq("src0", "src1", "src2")
  private val Neg = Seq("src3", "src4", "src5")

  private var oracleDirs = Seq.empty[Map[String, String]]
  private var runSeed = 0L
  private var gateModel: Option[(DataFrame, DataFrame)] = None

  def generate(spark: SparkSession, dir: String, seed: Long): Unit =
    DataGen.documents(spark, dir, nDocs, seed)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def warehouse: File = new File(sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
    throw new IllegalStateException("SPARK_GRAFT_WAREHOUSE must name an empty dir")))

  private def published(family: String): Set[String] =
    Option(warehouse.listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"$family-v"))
      .map(_.getName).toSet

  /** Build `family` fresh, then run its consumers in a seeded order.
    * Fresh-build tripwire: the family must be absent before the timed
    * call and published with a receipt after it, or the build op fails.
    */
  private def buildAndServe(spark: SparkSession, rec: Recorder, dir: String,
      out: String, family: String, consumers: Seq[String],
      buildPhase: String, servePhase: String): Unit = {
    val before = published(family)
    rec.timed(spark, "ComposedArtifacts", family, buildPhase) {
      require(before.isEmpty, s"warehouse already holds $before")
      ComposedArtifacts.receipt(spark, dir, family).collect()
      val fresh = published(family) -- before
      require(fresh.size == 1 &&
        new File(warehouse, s"${fresh.head}/receipt").isDirectory,
        s"expected one fresh $family build with a receipt, found $fresh")
    }
    rec.phaseEnd()
    val queries = SparkEntry.queries
    oracleDirs ++= new scala.util.Random(runSeed).shuffle(consumers).flatMap { q =>
      val got = rec.timed(spark, "TrainingEntries", q, servePhase) {
        val df = queries(q)(spark, dir)
        (df.schema, df.collect())
      }
      spark.sharedState.cacheManager.clearCache()
      got.map { case (schema, rows) =>
        val target = s"$out/oracle/$q"
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(target)
        Map("name" -> q, "sql" -> SparkEntry.oracleSql(q), "rows" -> target,
          "input" -> dir)
      }
    }
  }

  def run(spark: SparkSession, rec: Recorder, dir: String, seed: Long,
      seconds: Double, out: String): Unit = {
    runSeed = seed
    val (family, consumers) = families.head
    buildAndServe(spark, rec, dir, out, family, consumers, "publish", "serve")

    // --- traced run only: the streams, the decontamination family ------
    if (rec.trace) {
      rec.phaseEnd()
      stream(spark, rec, dir, out, "dedupedDocs", "append",
        d => DocStreams.dedupedDocs(d).toDF())
      // the gate's model is trained on the corpus outside the timed
      // calls and ships as the stream's static side, as a batch tier
      // ships it
      val (lm, consts) = TextAnalysis.nbModel(corpus(spark, dir), Pos, Neg)
      gateModel = Some((lm.localCheckpoint(), consts.localCheckpoint()))
      val (o1, o0, pd) = consts.select("oov1", "oov0", "prior_diff").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
      val thresholds = Curation.gateThresholds(corpus(spark, dir), Pos, Neg).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      stream(spark, rec, dir, out, "compositeGateStream", "complete",
        d => DocStreams.compositeGateStream(d, gateModel.get._1, o1, o0, pd, thresholds))
      rec.phaseEnd()
      for ((family, consumers) <- families.tail)
        buildAndServe(spark, rec, dir, out, family, consumers, "traced", "traced")
    }
  }

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(!DataGen.delivered(runSeed))

  private def delivery(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir).filter(DataGen.delivered(runSeed))

  /** Stream the delivery through `query` to a memory sink named `q`, one
    * file per micro-batch. The files are cut by doc_id range, so the
    * first arrival of a text is its smallest doc_id, as in the batch
    * twins. The query's start and each micro-batch are timed calls.
    */
  private def stream(spark: SparkSession, rec: Recorder, dir: String, out: String,
      q: String, mode: String, query: DataFrame => DataFrame): Unit = {
    val ids = delivery(spark, dir).select("doc_id").collect().map(_.getLong(0)).sorted
    val slices = ids.grouped(math.max(1, math.ceil(ids.length.toDouble / streamFiles).toInt))
      .map(g => (g.head, g.last)).toSeq
    val in = s"$out/stream/$q"
    new File(in).mkdirs()
    var running: StreamingQuery = null
    try {
      rec.timed(spark, "streaming.DocStreams", q, "traced") {
        running = query(DocStreams.readDocs(spark, in)).writeStream
          .outputMode(mode).format("memory").queryName(q).start()
      }.foreach(_ => rec.annotate("start", 1))
      for ((lo, hi) <- slices if running != null) {
        delivery(spark, dir).filter(col("doc_id").between(lo, hi))
          .coalesce(1).write.mode("append").parquet(in)
        rec.timed(spark, "streaming.DocStreams", q, "traced") {
          running.processAllAvailable()
        }.foreach { _ =>
          Option(running.lastProgress).flatMap(_.stateOperators.headOption)
            .foreach(s => rec.annotate("state_rows", s.numRowsTotal.toDouble))
        }
      }
    } finally if (running != null) running.stop()
  }

  private val SuffixStores = Set("sa_lcp", "sg_base_store", "sg_base_pairs",
    "sg_full_store", "sg_full_pairs", "hot_base_store", "hot_base_pairs") ++
    (1 to 4).map(k => s"win_k$k")

  def check(spark: SparkSession, rec: Recorder, dir: String, out: String): Unit = {
    rec.checking("suffix receipt lists every published store, none empty") {
      val rows = ComposedArtifacts.receipt(spark, dir, "suffix")
        .select("artifact", "n_docs").collect()
      rows.map(_.getString(0)).toSet == SuffixStores &&
        rows.filter(_.getString(0) != "hot_base_pairs").forall(_.getLong(1) > 0)
    }
    if (published("decon").nonEmpty)
      rec.checking("decon receipt lists a non-empty shingle store") {
        val rows = ComposedArtifacts.receipt(spark, dir, "decon")
          .select("artifact", "n_docs").collect()
        rows.nonEmpty && rows.forall(_.getLong(1) > 0)
      }
    // each stream's final sink equals its batch twin over the delivery
    def same(got: DataFrame, want: DataFrame): Boolean = {
      val g = got.select(want.columns.map(col): _*)
      g.count() > 0 && g.exceptAll(want).isEmpty && want.exceptAll(g).isEmpty
    }
    for ((lm, consts) <- gateModel) {
      rec.checking("dedupedDocs sink == Dedup.exactDuplicates") {
        same(spark.table("dedupedDocs"),
          Dedup.exactDuplicates(delivery(spark, dir)).select("fp", "keep_id"))
      }
      rec.checking("compositeGateStream sink == Curation.compositeGateFrom") {
        same(spark.table("compositeGateStream"), Curation.compositeGateFrom(
          Curation.gateThresholds(corpus(spark, dir), Pos, Neg), lm, consts,
          delivery(spark, dir)))
      }
    }
  }

  def oracle: Seq[Map[String, String]] = oracleDirs
}
