package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Bucketing, ParquetRead}
import graft.operators.{Curation, Dedup, NgramLm, Similarity, SkewJoin, SubstringDedup, SuffixArray, TextAnalysis}
import graft.sources.Tables

/** Scale rehearsal: run the heavy dedup/ANN family on a ~K× inflated
  * corpus and print wall + executor-cpu + shuffle bytes per query at
  * each factor — the measured datapoint behind the operators' "linear
  * worst case" scale claims (a quadratic leak shows up as a >>K×
  * shuffle-bytes jump between factors).
  *
  * Inflation design: the corpus unions K copies with disjoint id
  * spaces. Document TEXT is passed through a per-copy Caesar shift
  * over the ten commonest English letters (`translate`), so
  *  - WITHIN a copy, pairwise shingle overlap is exactly the
  *    original's (both sides shift identically → near-dup structure
  *    and the LSH candidate count scale ×K, not ×K²);
  *  - ACROSS copies, nearly every 5-gram contains a shifted letter,
  *    so cross-copy docs stop colliding (no artificial K²-pair
  *    blowup a plain copy would create via exact duplicates).
  * Embeddings inflate by id-shift alone: ANN cost is row-linear in
  * corpus size regardless of duplicate geometry (same cells, same
  * top-k heap work), so copies measure the right thing there.
  *
  * Usage: `runMain graft.ScaleRehearsal [sfDir] [factors] [only]` —
  * factors default "1,10"; `only` is an optional comma-separated list
  * of query-name substrings to rehearse a single family member fast.
  * Each factor runs the selection once (cold plans, no warmup: the
  * comparison is factor-vs-factor under identical conditions, not
  * absolute). A leg that throws prints no row; the run then ends with
  * one `{"failed_n":…,"failed":[…]}` line naming every failed leg and
  * exits 1. [[rehearse]] is the same run on a caller's session.
  */
object ScaleRehearsal {

  private val Common = "etaoinshrd"
  private def shifted(i: Int): String = {
    val k = i % Common.length
    Common.drop(k) + Common.take(k)
  }

  def inflateDocuments(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 100000000L)).as("doc_id"),
        translate(col("text"), Common, shifted(i)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)

  def inflateEmbeddings(emb: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      emb.select((col("vec_id") + lit(i * 100000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionAll _)

  /** ADVERSARIAL-SKEW inflation (round-14): [[inflateDocuments]] plus
    * the two worst shapes a crawl actually delivers —
    *  - a POWER-LAW source distribution (src0 holds ~1/2 the corpus,
    *    src1 ~1/4, … src5 the tail; deterministic md5-bucket mapping),
    *    so every per-source shuffle has one hot key;
    *  - ONE mass-duplicated template, 300·k byte-identical copies in
    *    a disjoint id range — the hot-bucket scenario: one window
    *    fingerprint with a 300k-fold count, LSH buckets far past the
    *    cap, one fp with thousands of members.
    * The skew legs run the sig/span store builds, the star probe, and
    * the plain-vs-salted source aggregate over this corpus and report
    * PER-TASK shuffle balance (p50/max) — a straggler shows up as
    * max ≫ p50, which the balanced designs must not produce.
    */
  def inflateSkewedDocuments(docs: DataFrame, k: Int): DataFrame = {
    // j = floor(log2(b+1)) over a 64-bucket hash is distributed
    // P(j) = 2^j/64, so src index (5 − min(j,5)) is a power law with
    // src0 ≈ 1/2 of rows — deterministic, content-stable
    val j = floor(log2(Curation.hashBucket(col("doc_id"), 64) + 1))
      .cast("int")
    val skewedSrc = inflateDocuments(docs, k).withColumn("source",
      concat(lit("src"), (lit(5) - least(j, lit(5))).cast("string")))
    // template copies live at slot k of the 1e8-wide id grid —
    // inflateDocuments occupies slots 0..k-1 only (base ids < 1e8),
    // so the range is disjoint for EVERY k; a fixed 9e8 offset
    // collided with inflated block 9 whenever k >= 10 (ADVICE r14),
    // merging ~3000 doc_ids' shingle sets and corrupting the skew
    // legs' balance measurements
    val copies = docs.filter(length(col("text")) > 200)
      .agg(min_by(col("text"), col("doc_id")).as("text"))
      .select(explode(sequence(lit(0L), lit(300L * k - 1))).as("i"),
        col("text"))
      .select((col("i") + lit(k.toLong * 100000000L)).as("doc_id"), col("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("text")).cast("long").as("n_chars"))
    skewedSrc.unionByName(copies)
  }

  /** The shared inputs a leg may read. Each is built at most once per
    * factor, and only when a selected leg uses it.
    */
  object Shared extends Enumeration {
    val Docs, Emb, SkewDocs, SpanIdx, NbIdx, ContPairs, ManifestIdx, GateIdx,
      JacIdx, LmIdx, BktIdx, CompIdx, SgIdx, HotDocs, SgDisk = Value
  }
  type Shared = Shared.Value
  import Shared._

  /** One rehearsed query: `fn` builds the frame whose count() is timed;
    * `noBroadcast` runs it under a disabled broadcast threshold.
    */
  final case class Leg(name: String, uses: Seq[Shared],
      noBroadcast: Boolean = false)(val fn: () => DataFrame)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,10").split(",").map(_.trim.toInt)
    val only: Option[Seq[String]] = args.lift(2).map(_.split(',').toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // bucketed-table scratch for the sg_carried_* legs — never the
    // repo working dir
    val warehouse = java.nio.file.Files.createTempDirectory("graft-rehearsal-wh")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale-rehearsal")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed =
      try rehearse(spark, sfDir, factors.toSeq, only)
      finally { spark.stop(); FsUtil.rmTree(warehouse.toFile) }
    if (failed.nonEmpty) {
      println(failed.map(Verify.jsonString).mkString(
        s"""{"failed_n":${failed.size},"failed":[""", ",", "]}"))
      sys.exit(1)
    }
  }

  /** Run the selected legs at each factor, printing one JSON row per
    * leg that ran, and return the job groups of the legs that threw.
    * The caches, scratch dirs and catalog tables a factor builds are
    * released before the next factor starts; its `localCheckpoint`
    * blocks go once their frames are garbage (Spark's ContextCleaner),
    * since `unpersist` cannot reach them.
    */
  def rehearse(spark: SparkSession, sfDir: String, factors: Seq[Int],
      only: Option[Seq[String]]): Seq[String] = {
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    // per-job-group cpu and shuffle, and per-task shuffle reads for
    // the skew legs' straggler diagnostic (max ≫ p50 = one task ate
    // the hot key)
    val metrics = JobGroupMetrics.attach(spark.sparkContext)
    // legs that threw: they print no row
    val failed = ArrayBuffer.empty[String]
    val t = Tables(spark, sfDir)
    val nbPos = Seq("src0", "src1", "src2")
    val nbNeg = Seq("src3", "src4", "src5")

    try for (f <- factors) {
      // each cache, scratch dir and table registers its release as it
      // is built; the factor's finally runs them all
      val releases = ArrayBuffer.empty[() => Unit]
      def cached(df: DataFrame): DataFrame = {
        releases += (() => df.unpersist(false))
        df.persist(StorageLevel.MEMORY_AND_DISK)
      }

      lazy val docs = cached(inflateDocuments(t.documents, f))
      lazy val skewDocs = cached(inflateSkewedDocuments(t.documents, f))
      lazy val emb = cached(inflateEmbeddings(t.embeddings, f))
      // the incremental span index (90% of the corpus) is built ONCE
      // outside the timed legs — the ingest claim under test is the
      // marginal delivery cost (10% batch probed against the index)
      // vs re-running the full-corpus rule
      lazy val spanIdx: DataFrame =
        SubstringDedup.windowIndex(docs.filter(col("doc_id") % 10 =!= 0))
          .localCheckpoint(true)
      // accumulated NB count artifacts over 90% of the corpus (eager
      // inside nbCounts) — the q161 fold leg probes a 10% delivery
      // against them
      lazy val nbIdx: (DataFrame, DataFrame) = TextAnalysis.nbCounts(
        docs.filter(col("doc_id") % 10 =!= 0), nbPos, nbNeg)
      // the materialized containment pair table (shingle index →
      // ngramContainmentFromShingles), built ONCE outside the timed
      // spans — the from-pairs leg measures the composed consumer's
      // marginal cost the way the warehouse serves q147
      lazy val contPairs: DataFrame =
        Dedup.ngramContainmentFromShingles(Dedup.shingles(docs))
          .localCheckpoint(true)
      // the incremental manifest's persisted state, built ONCE outside
      // the timed legs. Shards are APPEND-SHAPED (crawl chunk =
      // doc_id div 500): a delivery lands in its own shard, so the
      // fold touches only the new cells and every old receipt carries
      // over — the warehouse shape the artifact exists for. (A
      // hash-split smears every delivery across ALL cells — the
      // measured worst case where folding degenerates to a full
      // re-aggregate; IngestDemo documents that shape, this leg
      // measures the append case.) The 500-doc delivery is FIXED-SIZE
      // across factors — the production constant — so the fold leg's
      // cost should stay flat while the re-hash leg grows with the
      // corpus.
      def crawlOf(d: DataFrame): DataFrame =
        d.withColumn("split", expr("doc_id div 500").cast("string"))
      lazy val manifestIdx: (DataFrame, DataFrame) = {
        val units = Curation.manifestUnits(
          crawlOf(docs.filter(col("doc_id") >= 500)), subShards = 4)
          .localCheckpoint(true)
        (units, Curation.subManifestFromUnits(units).localCheckpoint(true))
      }
      // the VERIFIED-PAIR STORE's persisted state (shingle index +
      // pair table over 90% of the corpus), built ONCE outside the
      // timed legs — the q186 fold leg probes a fixed-size 10%
      // delivery against it; the q27 leg above is the full-rebuild
      // baseline it must undercut (the marginal-vs-total claim that
      // retires the exact-verify family's standalone-rebuild weak)
      lazy val jacIdx: (DataFrame, DataFrame) = {
        val sh90 = Dedup.shingles(docs.filter(col("doc_id") % 10 =!= 0))
          .localCheckpoint(true)
        (sh90, Dedup.ngramJaccardFromShingles(sh90).localCheckpoint(true))
      }
      // the bigram-LM count state over 90% of the trusted slice,
      // built ONCE outside the timed legs — the q199 fold leg merges
      // a 10% delivery into it; the full-retrain leg is the baseline
      // it must undercut
      lazy val lmIdx: DataFrame = NgramLm.bigramCounts(
        docs.filter(col("doc_id") % 10 =!= 0 &&
          col("source").isin(nbPos: _*))).localCheckpoint(true)
      // the LSH bucket-stats store over 90% of the corpus, built ONCE
      // outside the timed legs — the q195 fold leg merges a 10%
      // delivery's stats into it; the re-agg leg is the per-delivery
      // cost the persisted store eliminates (ADVICE round-14)
      lazy val bktIdx: DataFrame = Dedup.bucketStats(
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 10 =!= 0)))
        .localCheckpoint(true)
      // the cluster-label store's inputs, built ONCE outside the
      // timed legs: the full pair table (the expensive corpus-version
      // artifact BOTH legs get for free — this head-to-head prices
      // the LABEL maintenance itself), its 90/10 split, and the
      // labels over the 90% slice. The fold leg recomputes only the
      // components the delivery's pairs touch; the rebuild leg runs
      // componentsOf over every pair — the gap is the q207 scale
      // claim (label cost ∝ delivery-touched components, not corpus)
      lazy val compIdx: (DataFrame, DataFrame, DataFrame) = {
        val pairs = Dedup.minhashDupPairs(docs, threshold = 0.7)
          .select(col("id1"), col("id2")).localCheckpoint(true)
        val oldP = pairs
          .filter(col("id1") % 10 =!= 0 && col("id2") % 10 =!= 0)
        val newP = pairs
          .filter(col("id1") % 10 === 0 || col("id2") % 10 === 0)
          .localCheckpoint(true)
        (Dedup.componentsOf(oldP).localCheckpoint(true), newP, pairs)
      }
      // the span-GROUP store + pair artifact over 90% of the corpus,
      // built ONCE outside the timed legs — the q241 fold leg folds a
      // 10% delivery at touched-group cost; the rebuild leg runs the
      // full suffix-array construction (log-rounds of corpus-sized
      // dense ranks), the cost the maintained store retires
      lazy val sgIdx: (DataFrame, DataFrame) = {
        val base = docs.filter(col("doc_id") % 10 =!= 0)
        val store = SuffixArray.spanGroupStore(base).localCheckpoint(true)
        (store,
          SuffixArray.repeatedSpansWithKey(store, base).localCheckpoint(true))
      }
      // the PATHOLOGICAL-GROUP corpus (round-18, verdict #2): one
      // 5-token boilerplate span opening 2000·f IDENTICAL 125-token
      // docs (every window of a duplicated doc is a duplicated
      // group — the license-header case) plus 2000·f docs sharing
      // only the opening span before distinct tails. The hot_span_*
      // head-to-head runs the SAME store through the window-sort
      // path (threshold maxed) and the bounded-slice refinement
      // (threshold 256) — the refinement must keep per-task shuffle
      // flat where the window path funnels whole member suffixes
      // into single group partitions
      lazy val hotDocs: DataFrame = {
        // 20,000·f docs sharing ONLY their opening 5-token span; the
        // following 41 tokens all carry the doc id, so EVERY later
        // window is doc-unique: exactly ONE span group of 20,000·f
        // members (200,000 at f=10), each member a 46-token suffix —
        // the license-header pathology in its purest shape. The
        // window path funnels every member's full suffix into a
        // single sort partition; the refinement path resolves the
        // group in one bounded-slice level.
        val n = 20000L * f
        cached(spark.range(0, n).select(
            (col("id") + 600000000L).as("doc_id"),
            concat(lit("hot span head token five "),
              expr("array_join(transform(sequence(0, 40), " +
                "j -> concat('t', j, 'x', id)), ' ')")).as("text"),
            lit("en").as("lang"), lit("src0").as("source"),
            lit(0L).as("n_chars"))
          .withColumn("n_chars", length(col("text")).cast("long")))
      }
      lazy val hotStore: DataFrame =
        SuffixArray.spanGroupStore(hotDocs).localCheckpoint(true)
      // DISK-backed span-group pair twins for the bucketed-layout
      // head-to-head (round-18, verdict #6): the SAME pair table as
      // plain parquet vs bucketed-by-fp (32 buckets, per-bucket
      // sorted). Under a disabled broadcast threshold — the 100 TB
      // regime where the touched-fp set outgrows a broadcast — the
      // carried-leg anti-join must leave the bucketed store side
      // UNSHUFFLED (exchange on the delivery side only)
      lazy val sgDisk: (DataFrame, DataFrame, DataFrame) = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-rehearsal-sg")
        val table = s"rehearsal_sg_pairs_x$f"
        releases += (() => FsUtil.rmTree(tmp.toFile))
        releases += (() => Bucketing.drop(spark, table))
        sgIdx._2.write.mode("overwrite").parquet(s"$tmp/pairs_plain")
        Bucketing.writeBucketed(sgIdx._2, table, "fp",
          spark.sessionState.conf.numShufflePartitions)
        val touched = SuffixArray
          .spanGroupStore(docs.filter(col("doc_id") % 10 === 0))
          .select(col("fp")).distinct().localCheckpoint(true)
        (ParquetRead.parquet(spark, s"$tmp/pairs_plain"),
          Bucketing.table(spark, table), touched)
      }
      // the composite gate's serve artifacts (NB model + per-source
      // cut table), trained ONCE outside the timed legs — the served
      // leg gates the corpus windowless against them
      lazy val gateIdx: (DataFrame, DataFrame, DataFrame) = {
        val (lm, consts) = TextAnalysis.nbModel(docs, nbPos, nbNeg)
        (lm, consts,
          Curation.gateThresholdsFrom(lm, consts, docs).localCheckpoint(true))
      }
      val family: Seq[Leg] = Seq(
        Leg("q26_minhash_dups", Seq(Docs))(() =>
          Dedup.minhashDupPairs(docs, threshold = 0.7)),
        Leg("q27_ngram_jaccard", Seq(Docs))(() =>
          Dedup.ngramJaccardPairs(docs, n = 5, threshold = 0.5)),
        Leg("q51_dup_clusters", Seq(Docs))(() =>
          Dedup.dupClusters(docs, threshold = 0.7)),
        Leg("q34_knn_ivf", Seq(Emb))(() =>
          Similarity.ivfTopK(emb, trainFraction = 0.1)),
        // round-9 heavies: span-dedup's window aggregate (linear in
        // corpus tokens) and PQ training+encode (linear in m·N folds).
        // duplicatedWindows, not dupSpanStats: the latter's row count
        // equals its left side, so a count() action lets Catalyst
        // eliminate the join AND the span derivation (measured as a
        // 0-shuffle no-op) — the fp aggregate is elimination-proof
        Leg("q111_dup_windows", Seq(Docs))(() =>
          SubstringDedup.duplicatedWindows(docs)),
        // the rolling-hash twin right after its md5 sibling: same
        // aggregate, O(n) derivation + 8-byte keys — the rehearsal
        // prints the head-to-head wall/cpu/shuffle-bytes at each factor
        Leg("q135_dup_windows_rolling", Seq(Docs))(() =>
          SubstringDedup.duplicatedWindowsRolling(docs)),
        Leg("q117_pq_encode", Seq(Emb))(() =>
          Similarity.pqEncode(emb)),
        // round-9 session-2 heavies: the span REWRITE (coverage legs +
        // the doc-keyed interval join; the removed_tokens filter keeps
        // count() from eliminating the rewrite work — the output row
        // count would otherwise equal the left side) and the 3-round
        // integer PageRank over the pair graph
        Leg("q132_span_rewrite", Seq(Docs))(() =>
          SubstringDedup.removeSpans(docs).filter(col("removed_tokens") > 0)),
        // incremental ingest vs full re-run: the 10% delivery probed
        // against the prebuilt index vs the whole-corpus >= 2 rule —
        // the marginal-vs-total cost gap is the q154 scale claim
        // the dup_tokens > 0 filter makes the coverage join
        // elimination-proof under count() (same trap as q111's note
        // above: both stats outputs are row-equal to their left side)
        Leg("q154_incremental_batch", Seq(Docs, SpanIdx))(() =>
          SubstringDedup.incrementalSpanStats(spanIdx,
            docs.filter(col("doc_id") % 10 === 0))
            .filter(col("dup_tokens") > 0)),
        Leg("q154_full_rerun", Seq(Docs))(() =>
          SubstringDedup.dupSpanStats(docs)
            .filter(col("doc_id") % 10 === 0 && col("dup_tokens") > 0)),
        Leg("q128_pagerank", Seq(Docs))(() =>
          Dedup.pairPageRank(Dedup.minhashDupPairs(docs, threshold = 0.7))),
        // the within-cell ANN family (q141/q146 share this join
        // budget): maxCell caps the quadratic leg, which means
        // nCentroids MUST grow with the corpus (cells ≈ N/cap) — a
        // fixed 16 cells at x10 put every cell over the cap and the
        // first rehearsal run returned ZERO rows. Scaling cells with
        // the factor holds per-cell size constant: the correct
        // deployment, and the measured cost stays ~linear.
        Leg("q141_hard_negatives", Seq(Emb))(() =>
          Similarity.hardNegatives(emb, nCentroids = 16 * f)),
        // the NB classifier (q156): two token-type aggregates + a
        // vocab-sized join against per-doc counts — expected linear
        // in corpus tokens. The Caesar copies also multiply the
        // vocabulary, so the lm join side grows with the corpus the
        // way a real crawl's type table does
        Leg("q156_nb_classifier", Seq(Docs))(() =>
          TextAnalysis.nbClassifierScores(docs,
            posSources = Seq("src0", "src1", "src2"),
            negSources = Seq("src3", "src4", "src5"))),
        // the centroid classifier (q158): one (label, dim, Σv)
        // aggregate + a K-row broadcast crossJoin and a max_by —
        // expected linear in vectors with a constant K·dims term
        Leg("q158_centroid_classifier", Seq(Emb))(() =>
          Similarity.centroidClassifier(emb)),
        // incremental NB model update vs full retrain: fold a 10%
        // delivery's counts into the prebuilt 90% artifacts (one
        // delivery tokenization + a vocab-sized merge) vs
        // re-tokenizing the whole corpus — q161's marginal-cost claim
        // (nbCounts checkpoints eagerly, so both legs are
        // elimination-proof under count())
        Leg("q161_fold_delivery", Seq(Docs, NbIdx))(
          () => TextAnalysis.nbCountsUpdate(nbIdx._1, nbIdx._2,
            docs.filter(col("doc_id") % 10 === 0), nbPos, nbNeg)._1),
        Leg("q161_full_retrain", Seq(Docs))(() =>
          TextAnalysis.nbCounts(docs, nbPos, nbNeg)._1),
        // the containment family (q140/q147): q27's inverted shingle
        // index with the df<=100 cut bounding pair generation
        // linearly, PLUS two id->source joins and a sources²-bounded
        // aggregate for the directed matrix — the standalone legs
        // prove the whole chain linear; the from-pairs leg prices the
        // composed consumer off the materialized pair artifact
        // the composite gate (q164): the NB scorer's two token-level
        // aggregates + ONE fused row-local signal scan + a per-source
        // rank window — expected linear in corpus tokens (the keep
        // filter makes the join+window chain elimination-proof under
        // count(): kept rows are data-dependent)
        Leg("q164_composite_gate", Seq(Docs))(() =>
          graft.operators.Curation.compositeGate(docs)
            .filter(col("keep"))),
        // the SERVED gate (q179): same decision, zero windows — one
        // scoring pass + the fused signal scan + a broadcast join
        // against the K-row cut table; head-to-head with q164's
        // windowed form above (keep filter: same elimination-proofing)
        Leg("q179_gate_served", Seq(Docs, GateIdx))(
          () => Curation.compositeGateFrom(gateIdx._3, gateIdx._1,
            gateIdx._2, docs).filter(col("keep"))),
        Leg("q140_containment", Seq(Docs))(() =>
          Dedup.ngramContainmentPairs(docs)),
        Leg("q147_containment_matrix", Seq(Docs))(() =>
          Dedup.sourceContainmentMatrix(docs)),
        Leg("q147_from_pairs", Seq(Docs, ContPairs))(
          () => Dedup.sourceContainmentMatrixFromPairs(contPairs, docs)),
        // incremental manifest fold vs full re-hash: the fold pays the
        // fixed-size delivery's text hashing + its own cells' fold;
        // the re-run fingerprints every document's TEXT again — the
        // q154 marginal-vs-total story for integrity receipts
        Leg("q178_manifest_fold", Seq(Docs, ManifestIdx))(
          () => Curation.manifestFromSub(Curation.updatedSubManifest(
            manifestIdx._2, manifestIdx._1,
            Curation.manifestUnits(
              crawlOf(docs.filter(col("doc_id") < 500)),
              subShards = 4)))),
        Leg("q178_full_rehash", Seq(Docs))(() =>
          Curation.shardManifest(crawlOf(docs), subShards = 4)),
        // verified-pair store fold vs full rebuild: the 10% delivery's
        // shingles fold into the prebuilt 90% store (new-candidate
        // probe + crossing repair + sliver verify) — head-to-head with
        // the q27 full-rebuild leg above. The jaccard > 0 filter keeps
        // count() from eliminating nothing here (output is the pair
        // table, data-dependent), but guards against future rewrites
        Leg("q186_fold_delivery", Seq(Docs, JacIdx))(
          () => Dedup.jaccardPairsFold(jacIdx._2, jacIdx._1,
            Dedup.shingles(docs.filter(col("doc_id") % 10 === 0)))
            .filter(col("jaccard") > 0)),
        // the bigram-LM scorer (q198): one row-local bigram explode
        // over the reference + corpus, two token-keyed joins against
        // the count/context tables, one per-doc aggregate — expected
        // linear in corpus tokens (the nll filter is data-dependent,
        // keeping the model joins elimination-proof under count())
        Leg("q198_lm_score", Seq(Docs))(() =>
          NgramLm.lmScore(docs.filter(col("source").isin(nbPos: _*)),
            docs).filter(col("nll_micro") > 0)),
        // incremental LM count fold vs full retrain: a 10% trusted
        // delivery's bigrams merge into the prebuilt 90% state (one
        // delivery derivation + a vocab-sized keyed merge) vs
        // re-deriving every reference bigram — the q161 marginal-cost
        // claim for the LM family (c12 filter: elimination-proofing)
        Leg("q199_lm_fold", Seq(Docs, LmIdx))(() =>
          NgramLm.bigramCountsUpdate(lmIdx,
            docs.filter(col("doc_id") % 10 === 0 &&
              col("source").isin(nbPos: _*)))
            .filter(col("c12") > 0)),
        Leg("q199_lm_retrain", Seq(Docs))(() =>
          NgramLm.bigramCounts(docs.filter(col("source").isin(nbPos: _*)))
            .filter(col("c12") > 0)),
        // bucket-store fold vs per-delivery re-aggregation: a 10%
        // delivery's signatures + their bucket stats merge into the
        // prebuilt 90% store vs re-deriving band hashes and
        // re-aggregating EVERY signature — the cost the persisted
        // store removes from the near-dup delivery path (both
        // filters reference both aggregates: elimination-proofing)
        Leg("q195_bucket_fold", Seq(Docs, BktIdx))(() =>
          Dedup.bucketStatsFold(bktIdx, Dedup.minhashSignatures(
            docs.filter(col("doc_id") % 10 === 0)))
            .filter(col("bsz") > 0 && col("id1") >= 0)),
        Leg("q195_bucket_reagg", Seq(Docs))(() =>
          Dedup.bucketStats(Dedup.minhashSignatures(docs))
            .filter(col("bsz") > 0 && col("id1") >= 0)),
        // SQ8 (q204/q205): ONE dims-bounded extrema aggregate + a
        // row-local encode, then the asymmetric search's single
        // corpus-side fold per broadcast query — both expected linear
        // in vectors (the rerr filter is data-dependent,
        // elimination-proofing the encode under count())
        Leg("q204_sq_encode", Seq(Emb))(() =>
          Similarity.sqEncode(emb).filter(col("rerr") >= 0)),
        Leg("q205_sq_ann", Seq(Emb))(() =>
          Similarity.sqTopK(emb)),
        // cluster-label fold vs rebuild (q207): both legs read the
        // SAME precomputed pair table — the head-to-head isolates the
        // label maintenance (touched-component star recompute vs
        // whole-graph contraction)
        Leg("q207_fold_labels", Seq(Docs, CompIdx))(() =>
          Dedup.componentsFold(compIdx._1, compIdx._2)
            .filter(col("cluster_size") > 0)),
        Leg("q207_rebuild_labels", Seq(Docs, CompIdx))(() =>
          Dedup.componentsOf(compIdx._3)
            .filter(col("cluster_size") > 0)),
        // suffix-repeat fold vs full array rebuild (q241 vs q230):
        // the fold pays the delivery's windows + touched groups'
        // member re-sort; the rebuild pays log(maxDocLen) corpus-wide
        // dense-rank rounds — the marginal-vs-total story for the
        // last rebuild-only store family (lcp filter: both outputs
        // are data-dependent, elimination-proofing under count())
        Leg("q241_suffix_fold", Seq(Docs, SgIdx))(() => {
          val delivery = docs.filter(col("doc_id") % 10 === 0)
          SuffixArray.repeatedSpansFold(sgIdx._2,
            sgIdx._1.unionByName(SuffixArray.spanGroupStore(delivery)),
            delivery, docs).filter(col("lcp") >= 5)
        }),
        Leg("q241_suffix_rebuild", Seq(Docs))(() =>
          SuffixArray.repeatedSpans(docs).filter(col("lcp") >= 5)),
        // hot-group head-to-head (round-18 verdict #2): identical
        // store, window-sort path vs bounded-slice refinement over
        // the planted pathological corpus — compare wall/cpu/shuffle
        // AND task_shrd_max (the window path's single-partition
        // funnel shows up there)
        Leg("hot_span_window", Seq(HotDocs))(() =>
          SuffixArray.repeatedSpansWithKey(hotStore, hotDocs, 5L,
            Int.MaxValue).filter(col("lcp") >= 5)),
        Leg("hot_span_refine", Seq(HotDocs))(() =>
          SuffixArray.repeatedSpansWithKey(hotStore, hotDocs, 5L, 256)
            .filter(col("lcp") >= 5)),
        // bucketed-layout head-to-head (round-18 verdict #6), both
        // under a disabled broadcast threshold (the regime where the
        // touched set outgrows a broadcast): the carried anti-join
        // against the plain parquet store shuffles BOTH sides; the
        // bucketed-by-fp store must not move
        Leg("sg_carried_plain", Seq(Docs, SgIdx, SgDisk),
            noBroadcast = true)(() =>
          sgDisk._1.join(sgDisk._3, Seq("fp"), "left_anti")),
        Leg("sg_carried_bucketed", Seq(Docs, SgIdx, SgDisk),
            noBroadcast = true)(() =>
          sgDisk._2.join(sgDisk._3, Seq("fp"), "left_anti")),
        // edit-distance verify (q209): the q26 candidate front + the
        // banded thresholded levenshtein over 500-char prefixes —
        // candidate-proportional like every verifier here
        Leg("q209_edit_dups", Seq(Docs))(() =>
          Dedup.editDistanceDupPairs(docs)),
        // ---- adversarial-skew legs (round-14): power-law sources +
        // one 300·f-copy template (see inflateSkewedDocuments). The
        // claims under test: the sig/span STORE builds stay balanced
        // (map-side partial aggregation absorbs the hot fingerprint
        // before the shuffle), the star probe stays O(members), and
        // the salted aggregate keeps per-task shuffle flat where the
        // plain one concentrates the hot key — read the
        // task_shrd_p50/max columns, not just the totals
        Leg("skew_sig_store", Seq(SkewDocs))(() =>
          Dedup.minhashSignatures(skewDocs)),
        Leg("skew_span_store", Seq(SkewDocs))(() =>
          SubstringDedup.windowIndex(skewDocs)),
        Leg("skew_star_probe", Seq(SkewDocs))(() =>
          Dedup.hotBucketPairs(Dedup.minhashSignatures(skewDocs))),
        Leg("skew_agg_plain", Seq(SkewDocs))(() =>
          skewDocs.groupBy(col("source"))
            .agg(count(lit(1)).as("n"),
              sum(col("n_chars")).as("chars"))),
        Leg("skew_agg_salted", Seq(SkewDocs))(() =>
          SkewJoin.saltedAgg(skewDocs.select("source", "n_chars"),
            Seq("source"), salt = 32)(
            _.agg(count(lit(1)).as("c"), sum(col("n_chars")).as("s")),
            _.agg(sum(col("c")).as("n"), sum(col("s")).as("chars")))),
        // the diagnostic a pipeline reads BEFORE choosing a strategy:
        // the top key's share under the power law (src0 ≈ 50%)
        Leg("skew_key_profile", Seq(SkewDocs))(() =>
          SkewJoin.keySkewProfile(skewDocs, "source")))
      val sel = family.filter(l => selected(l.name))
      try {
        // force the shared inputs OUTSIDE the timed spans; the counts
        // fill the rows' docs and vecs columns
        val counts = sel.flatMap(_.uses).distinct.sorted.map { s =>
          s -> (s match {
            case Docs => docs.count()
            case Emb => emb.count()
            case SkewDocs => skewDocs.count()
            case SpanIdx => spanIdx.count()
            case NbIdx => nbIdx._1.count()
            case ContPairs => contPairs.count()
            case ManifestIdx => manifestIdx._1.count() + manifestIdx._2.count()
            case GateIdx => gateIdx._3.count()
            case JacIdx => jacIdx._1.count() + jacIdx._2.count()
            case LmIdx => lmIdx.count()
            case BktIdx => bktIdx.count()
            case CompIdx =>
              compIdx._1.count() + compIdx._2.count() + compIdx._3.count()
            case SgIdx => sgIdx._1.count() + sgIdx._2.count()
            case HotDocs => hotDocs.count() + hotStore.count()
            case SgDisk => sgDisk._1.count() + sgDisk._3.count()
          })
        }.toMap
        for (leg <- sel) {
          val g = s"x$f:${leg.name}"
          spark.sparkContext.setJobGroup(g, g)
          // noBroadcast legs run under a disabled broadcast threshold
          // (restored after the leg) — the at-scale join regime
          val savedBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
          val savedAqeBcast = spark.conf
            .getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
          if (leg.noBroadcast) {
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          }
          val t0 = System.nanoTime()
          val rows =
            try Some(leg.fn().count())
            catch { case NonFatal(e) =>
              System.err.println(
                s"[scale] $g failed: ${e.getClass.getName}: ${e.getMessage}")
              failed += g
              None
            } finally {
              spark.sparkContext.clearJobGroup()
              if (leg.noBroadcast) {
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBcast)
                savedAqeBcast match {
                  case Some(v) => spark.conf
                    .set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
                  case None => spark.conf
                    .unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
                }
              }
            }
          // deliberately NO cache clear between family members: the
          // shared corpus cache is the point (each query still derives
          // its own signatures/shingles); operator-internal persists
          // unpersist themselves
          val wall = (System.nanoTime() - t0) / 1e9
          rows.foreach { n =>
            metrics.drain()
            val m = metrics(g)
            val sh = m.taskShuffleReads.sorted
            val (p50, mx) = if (sh.isEmpty) (0L, 0L) else (sh(sh.size / 2), sh.last)
            val legDocs =
              counts.getOrElse(if (leg.uses.contains(SkewDocs)) SkewDocs else Docs, 0L)
            println(f"""{"factor":$f,"query":"${leg.name}","rows":$n,""" +
              f""""docs":$legDocs,"vecs":${counts.getOrElse(Emb, 0L)},""" +
              f""""wall_sec":$wall%.2f,"cpu_sec":${m.cpuNs / 1e9}%.2f,""" +
              f""""shuffle_write_mb":${m.shuffleWriteBytes / 1e6}%.1f,""" +
              f""""shuffle_read_mb":${m.shuffleReadBytes / 1e6}%.1f,""" +
              f""""task_shrd_p50_mb":${p50 / 1e6}%.2f,""" +
              f""""task_shrd_max_mb":${mx / 1e6}%.2f,"sh_tasks":${sh.size}}""")
          }
        }
        // ---- end-to-end IngestDemo rehearsal (select "ingest_e2e") ----
        // the WHOLE boot + one-delivery path — artifact IO included,
        // since stages hand off through parquet exactly as scheduled
        // jobs would — with the base corpus inflated ×f and the
        // DELIVERY FIXED-SIZE (the production constant): boot cost may
        // grow with the corpus, but the marginal delivery cost must
        // stay ~flat or the incremental-ingest claim fails end-to-end
        // (the per-stage rehearsals q92/q96/q154/q161/q178 prove each
        // fold alone; this row prices the composed path). Caesar
        // caveat: shifted base copies lose English stopwords, so the
        // gate admits delivery docs against a base whose NB/gopher
        // statistics dilute with f — cost still covers the full
        // corpus, which is what the row measures (BASELINE.md notes
        // the fixture effect).
        if (selected("ingest_e2e")) {
          val bucket = Curation.hashBucket(col("doc_id"), 10)
          val iBase = cached(inflateDocuments(t.documents.filter(bucket < 8), f))
          val iDelivery = cached(t.documents.filter(bucket >= 8))
          // the embedding side rides the same shape: inflated vector
          // base, fixed-size vector delivery (id-shift inflation — ANN
          // cost is row-linear regardless of duplicate geometry)
          val vBucket = Curation.hashBucket(col("vec_id"), 10)
          val iEmbBase =
            cached(inflateEmbeddings(t.embeddings.filter(vBucket < 8), f))
          val iEmbDelivery = cached(t.embeddings.filter(vBucket >= 8))
          iEmbBase.count(); iEmbDelivery.count()
          val nBase = iBase.count(); val nDel = iDelivery.count()
          val work = java.nio.file.Files
            .createTempDirectory("graft-rehearse-ingest").toString
          releases += (() => FsUtil.rmTree(new java.io.File(work)))
          val wallBy = scala.collection.mutable.Map(
            "boot" -> 0.0, "delivery" -> 0.0, "recal" -> 0.0,
            "takedown" -> 0.0)
          // takedown runs against the _v1 generation the stages
          // produce; its removal slice is a bucket of corpus v1, so it
          // scales WITH the corpus — the claim under rehearsal is
          // store-linear cost with the surviving text never re-read,
          // not delivery-flatness
          for ((name, fn) <- IngestDemo.stagesOver(spark, iBase, iDelivery,
              iEmbBase, iEmbDelivery, work) ++ IngestDemo.takedownStagesOver(
              spark, iBase, iDelivery, iEmbBase, iEmbDelivery, work)) {
            val phase =
              if (name.startsWith("boot_")) "boot"
              else if (name.startsWith("cal_")) "recal"
              else if (name.startsWith("tdn_")) "takedown"
              else "delivery"
            val g = s"x$f:ingest_$phase"
            spark.sparkContext.setJobGroup(g, g)
            val t0 = System.nanoTime()
            try fn() finally spark.sparkContext.clearJobGroup()
            wallBy(phase) += (System.nanoTime() - t0) / 1e9
          }
          metrics.drain()
          // rows = the phase's own work unit: the fixed delivery for
          // delivery, the removal slice (~1/7th of v1) for takedown,
          // the corpus for boot/recal — so per-row normalization reads
          // the measured work, not a constant-factor-off proxy
          val nRemoved = ParquetRead.parquet(spark, s"$work/removed_docs").count()
          for (phase <- Seq("boot", "delivery", "recal", "takedown")) {
            val g = s"x$f:ingest_$phase"
            val n = if (phase == "delivery") nDel
              else if (phase == "takedown") nRemoved
              else nBase
            val m = metrics(g)
            println(f"""{"factor":$f,"query":"ingest_e2e_$phase",""" +
              f""""rows":$n,"docs":$nBase,"vecs":0,""" +
              f""""wall_sec":${wallBy(phase)}%.2f,""" +
              f""""cpu_sec":${m.cpuNs / 1e9}%.2f,""" +
              f""""shuffle_write_mb":${m.shuffleWriteBytes / 1e6}%.1f,""" +
              f""""shuffle_read_mb":${m.shuffleReadBytes / 1e6}%.1f}""")
          }
        }
      } finally releases.reverseIterator.foreach(_())
    } finally spark.sparkContext.removeSparkListener(metrics)
    failed.toSeq
  }
}
