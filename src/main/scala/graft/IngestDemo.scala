package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ComposedArtifacts.{NegSources, PosSources, lmServe, nbModelStores, nbServe, spanGroups, vectorIndex}
import graft.Overlap.inParallel
import graft.engine.ParquetRead
import graft.operators.{Curation, Dedup, NgramLm, Similarity, SubstringDedup, SuffixArray, TextAnalysis}
import graft.sources.Tables

/** The PRODUCTION pipeline for CONTINUOUS ingest — one corpus
  * delivery driven end-to-end against persisted indexes, the way a
  * continuously-crawled corpus actually grows. [[ComposedArtifacts]]
  * is the batch story (build artifacts once, consumers collapse);
  * this is the per-delivery story its incremental family
  * (q92/q96/q154/q161/q163; the live form of its count tables is the
  * batch operator over `readStream`, see [[graft.streaming.DocStreams]])
  * was built for:
  *
  *   bootstrap (once per warehouse): fingerprint store, MinHash
  *     signature store, span window index, NB count + serve
  *     artifacts, the composite gate's per-source threshold table
  *     ([[Curation.gateThresholds]]), the EMBEDDING-side serve
  *     artifacts (IVF centroid model + cell table, PQ codebook +
  *     code table — round-14: the ingest/takedown lifecycle reaches
  *     the vector stores), shard manifest of corpus v0,
  *     and INTEGRITY RECEIPTS for the artifacts themselves
  *     ([[Curation.artifactManifest]]);
  *   per delivery (marginal, batch-proportional):
  *     1. exact dedup against the fp store (q92's
  *        [[Dedup.incrementalDedup]]) — one fp equi-join;
  *     2. near-dup against the signature store (q96's
  *        [[Dedup.incrementalNearDups]]) — banded LSH probe, the
  *        index is k BIGINTs/doc, the admitted corpus' text is gone —
  *        PLUS a within-delivery LSH self-probe (a mass-duplicated
  *        crawl template arriving as one delivery must not admit
  *        every copy; greedy keep-one by smallest doc_id, the
  *        exact stage's first-occurrence convention);
  *     3. span gate against the window index (q154's
  *        [[SubstringDedup.incrementalSpanStats]]) — batch windows +
  *        one fp join, never a corpus re-scan;
  *     4. quality gate with the SERVED COMPOSITE GATE
  *        ([[Curation.compositeGateFrom]]): the persisted per-source
  *        threshold artifact + NB model + fused rule signals — the
  *        calibrated q164/q179 filter stack, window-free, exactly as
  *        a 100 TB delivery would be gated (NOT the raw NB score:
  *        per-rule attribution rides into `delivery_gate`);
  *     5. INCREMENTAL shard manifest + [[Curation.manifestDiff]] —
  *        the admitted units fold into the persisted sub-manifest
  *        via [[Curation.updatedSubManifest]], recomputing only the
  *        (split, sub) cells the delivery lands in (member re-reads
  *        prune on the unit store's partitioning), then the v1
  *        receipt derives from the folded cell table — the rerun
  *        report without a corpus re-hash;
  *     6. index refresh: union-fold fp/signature stores, q154's
  *        [[SubstringDedup.updatedWindowIndex]], q161's
  *        [[TextAnalysis.nbCountsUpdate]] + re-derived serve model —
  *        every fold delivery-proportional;
  *   recalibration cadence (`cal_*` stages — CORPUS-version-
  *   proportional by nature, so they carry their own prefix and
  *   their own Bench scalar rather than polluting the marginal
  *   delivery cost; production runs them per corpus version or on a
  *   schedule, amortized across deliveries):
  *     7. gate threshold re-calibration off the folded v1 model:
  *        the v1 score table derives from the PERSISTED TOKEN
  *        PROFILES ([[TextAnalysis.nbScoreFromProfiles]] — one
  *        vocabulary-sized LM join, corpus text never re-read), then
  *        one rank window over (scores ⋈ doc_src)
  *        ([[Curation.gateThresholdsFromScores]]); a rank prefix is
  *        not an additive fold, so this stays corpus-version-
  *        proportional — but to the narrow tables, not to text;
  *        the ANN model retrain (`cal_ann_model`) is the vector
  *        side's recalibration-class twin;
  *     8. v1 ARTIFACT RECEIPTS + their diff ([[Curation
  *        .artifactManifest]] re-hashes the refreshed stores — the
  *        "which artifact version gated this delivery" record; the
  *        corpus manifest folds incrementally (stage 5) but artifact
  *        stores mutate in place (window-index counts, the rewritten
  *        LM), so their receipts re-derive).
  *
  * Every fold is ASSERTED equal to the from-scratch build over
  * corpus v1 (the discipline the `*From` specs hold for the batch
  * warehouse): incremental maintenance
  * must be a cost change, never a semantics change. Stages
  * communicate through parquet under `work` — each reads the
  * persisted artifacts exactly as a scheduled production job would,
  * so the measured marginal cost includes the artifact IO.
  *
  * The model stages call the store-chain definitions the warehouse
  * family builds also call ([[ComposedArtifacts]]): `boot_ann_index`,
  * `cal_ann_model` and `tdn_ann_model` run [[ComposedArtifacts
  * .vectorIndex]] with suffix "", "_v1" and "_v2"; `boot_nb_model`
  * runs [[ComposedArtifacts.nbModelStores]]; `boot_sg_store` runs
  * [[ComposedArtifacts.spanGroups]]; and every counts → serve step
  * (`boot_lm_model`, `inc_fold_lm`/`_nb`, `tdn_lm`/`_nb`) ends in
  * [[ComposedArtifacts.lmServe]] or [[ComposedArtifacts.nbServe]].
  * The stages pass their own plain writer; the warehouse passes its
  * rebalancing one.
  *
  * Bench runs [[stagesOver]] and [[takedownStagesOver]] (not the
  * checks) over [[fixtureSplit]] at the bench SF and reports the
  * marginal delivery cost under "incremental"; `IngestSpec` runs the
  * stages and every check.
  */
object IngestDemo {
  /** Near-dup drop threshold on the estimated Jaccard (matches the
    * q26/q51 family's 0.7).
    */
  private val NearDupThreshold = 0.7

  /** Span gate: drop a batch doc when more than half its tokens sit
    * in windows already known to the corpus (or repeated within the
    * delivery) — Lee et al.'s dup_fraction read at ingest.
    */
  private val MaxDupFraction = 0.5

  /** Recalibration-class model retrains (the `cal_*`/`tdn_*` IVF and
    * PQ refreshes) run their Lloyd passes over a deterministic md5
    * HALF-SAMPLE of the corpus version ([[graft.operators.Similarity]]
    * `trainFraction` — seeds stay full-corpus, ASSIGNMENT/encoding
    * still scan every vector, so the published (model, store) pair
    * stays complete and consistent). This is the 100 TB recal shape:
    * the one remaining corpus-proportional recurring stage drops to
    * sample + assignment cost, and k-means quality converges on the
    * sample (TrainingOpsSpec pins sampled-vs-full recall). The boot
    * (v0) training keeps fraction 1.0 — one-time cost, and the
    * q34/q117 oracle family gates the full-corpus trainer. SQ extrema
    * stay exact full-corpus scans (a min/max aggregate is already one
    * cheap map-side pass — sampling would change the codes for no
    * cost win).
    */
  private val CalTrainFraction = 0.5

  /** Hierarchical-manifest fan-out (q162's form): the unit store is
    * partitioned by (split, sub) so the incremental recompute prunes
    * to the cells a delivery touches.
    */
  private val SubShards = 4

  /** Corpus v0 = md5 buckets 0..BaseBuckets-1 of 10; the delivery =
    * the rest — a content-stable 80/20 split standing in for
    * "yesterday's warehouse" and "today's crawl".
    */
  private val BaseBuckets = 8

  /** The fixture's (corpus v0, delivery, vector base, vector delivery)
    * at `sfDir`: the [[BaseBuckets]] split of `documents` by doc_id
    * and of `embeddings` by vec_id (the fixture's vector and document
    * tables are independent; a production warehouse would resolve its
    * doc→vector mapping and deliver both sides of the same crawl
    * together). Every `*Over` entry point takes these four frames.
    */
  def fixtureSplit(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val t = Tables(spark, sfDir)
    val doc = Curation.hashBucket(col("doc_id"), 10)
    val vec = Curation.hashBucket(col("vec_id"), 10)
    (t.documents.filter(doc < BaseBuckets),
      t.documents.filter(doc >= BaseBuckets),
      t.embeddings.filter(vec < BaseBuckets),
      t.embeddings.filter(vec >= BaseBuckets))
  }

  /** The work-dir helpers every stage and check body shares: stages
    * hand off through parquet under `work`, `delivery` is the frame
    * the admitted ids resolve against, and the corpus and vector sets
    * of each generation are spelled once here.
    */
  private final class Work(spark: SparkSession, work: String,
      base: DataFrame, delivery: DataFrame, embBase: DataFrame,
      embDelivery: DataFrame) {
    def rd(p: String): DataFrame = ParquetRead.parquet(spark, s"$work/$p")
    // the unit store round-trips through a (split, sub)-PARTITIONED
    // parquet layout: partition columns come back via type inference
    // ('sub' as int — or string with inference disabled) while every
    // other unit table carries long, and the receipt fold must not
    // depend on set-operation widening or, worse, a string coercion
    // ordering '10' before '2' inside the sorted unit hash — so the
    // store read re-asserts the schema explicitly
    def rdUnits(p: String): DataFrame =
      rd(p).withColumn("sub", col("sub").cast("long"))
    def wr(df: DataFrame, p: String): Unit =
      df.write.mode("overwrite").parquet(s"$work/$p")
    def docsOf(ids: DataFrame): DataFrame =
      delivery.join(ids.select("doc_id"), Seq("doc_id"))
    def withSplit(d: DataFrame): DataFrame =
      d.join(Curation.hashSplit(d).select("doc_id", "split"), Seq("doc_id"))
    def receipts(suffix: String): DataFrame =
      Curation.artifactManifest(ReceiptedArtifacts.map(n =>
        n -> rd(n + suffix)))
    def minusRemoved(df: DataFrame): DataFrame =
      df.join(rd("removed_docs").select("doc_id"), Seq("doc_id"),
        "left_anti")
    /** Corpus v1 (base ∪ admitted delivery docs) and v2 (v1 minus the
      * takedown's removal slice).
      */
    def v1: DataFrame = base.unionByName(docsOf(rd("admitted")))
    def v2: DataFrame = minusRemoved(v1)
    /** The gate-admitted delivery vectors, the v1 vector corpus (base
      * ∪ admitted) and the v2 one (v1 minus the removed vectors).
      */
    def admittedVecs: DataFrame =
      embDelivery.join(rd("admitted_vecs"), Seq("vec_id"))
    def v1Vecs: DataFrame = embBase.unionByName(admittedVecs)
    def v2Vecs: DataFrame =
      v1Vecs.join(rd("removed_vecs"), Seq("vec_id"), "left_anti")
  }

  /** MULTISET equality via two-sided exceptAll — fully distributed (no
    * driver collect, so the check itself survives warehouse scale),
    * and duplicate-sensitive: a fold duplicating one row while losing
    * another must NOT pass. The failure names the store `label` and
    * says how it `diverged`.
    */
  private[graft] def sameRows(diverged: String)(label: String, got: DataFrame,
      want: DataFrame): Unit = {
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    require(extra == 0 && missing == 0,
      s"$label: $diverged ($extra extra, $missing missing rows)")
  }

  /** The artifacts covered by the integrity receipts, by store name
    * under the work dir — v1 stores are `<name>_v1`. Covers the
    * six SERVE artifacts plus the two NB count tables: the counts are
    * training state rather than gating state, but they are the fold
    * the serve model re-derives from, so a warehouse that ever
    * re-trains the LM from counts can answer "which count version
    * produced this model" from the same receipt row the gate
    * artifacts get (ADVICE round-13).
    */
  private val ReceiptedArtifacts = Seq(
    "fp_store", "sig_store",
    // the LSH bucket-stats table (round-15): the store-side
    // aggregation both per-delivery near-dup probes consume, kept as
    // its own foldable artifact so the delivery path never
    // re-aggregates the signature store
    "bucket_store",
    "span_index", "nb_vt", "nb_dc", "nb_lm", "nb_consts", "gate_thr",
    // the narrow scoring projections (round-14): per-doc token
    // profiles, the (doc_id, source) table, and the per-doc score
    // table whose generation suffix IS the model version that scored
    // it — "which scores calibrated this cut table" is a receipt row
    "tok_profiles", "doc_src", "nb_scores",
    // the EMBEDDING-side serve artifacts (round-14: the takedown
    // lifecycle reaches the vector stores too): IVF index pair +
    // PQ codebook/code table
    "ivf_centroids", "ivf_cells", "pq_codebook", "pq_codes",
    // the SQ8 pair (round-15): per-dim extrema model + code table —
    // the scalar sibling of the PQ codebook/codes split
    "sq_stats", "sq_codes",
    // the bigram-LM artifacts (round-15): the count state plus the
    // two serve tables lmFromCounts derives from it
    "lm_bi", "lm_uni", "lm_consts",
    // the suffix-repeat span-group pair (round-17): the doc-local
    // group store plus the maintained maximal-repeat pair table —
    // the last store family to join the fold/retract lifecycle
    "sg_store", "sg_pairs")

  /** The ordered stage list: `boot_*` once per warehouse, `inc_*`
    * once per delivery, `cal_*` on recalibration cadence (corpus-
    * version-proportional — see the object scaladoc), over a
    * corpus-v0/delivery split ([[fixtureSplit]] for the fixture's;
    * ScaleRehearsal inflates the base while holding the delivery
    * fixed). Stages hand off through parquet under `work`, so each
    * stage's cost is what a scheduled job would pay (artifact reads
    * included).
    */
  def stagesOver(spark: SparkSession, base: DataFrame, delivery: DataFrame,
      embBase: DataFrame, embDelivery: DataFrame,
      work: String): Seq[(String, () => Unit)] = {
    val w = new Work(spark, work, base, delivery, embBase, embDelivery)
    import w._
    Seq(
      "boot_fp_store" -> (() =>
        wr(TextAnalysis.fingerprints(base), "fp_store")),
      "boot_sig_store" -> (() =>
        wr(Dedup.minhashSignatures(base), "sig_store")),
      "boot_bucket_store" -> (() =>
        // the (band, bhash, bsz, id1) aggregation the capped probe
        // AND the star probe both need — paid once per corpus
        // version here, folded per delivery, never recomputed on the
        // delivery path (ADVICE round-14)
        wr(Dedup.bucketStats(rd("sig_store")), "bucket_store")),
      "boot_lm_model" -> { () =>
        // bigram-LM perplexity model over the trusted-source slice:
        // the count table is the incremental state; the context
        // table + constants re-derive from it with vocab-sized work
        wr(NgramLm.bigramCounts(
          base.filter(col("source").isin(PosSources: _*))), "lm_bi")
        lmServe(rd, wr, "")
      },
      "boot_span_index" -> (() =>
        wr(SubstringDedup.windowIndex(base), "span_index")),
      "boot_sg_store" -> (() =>
        // span-group store (doc-local rows) + the maintained
        // maximal-repeat pair table it powers — built once per
        // corpus version, folded/retracted at touched-group cost
        spanGroups(base, rd, wr, "sg")),
      "boot_nb_model" -> (() =>
        nbModelStores(base, rd, wr, "")),
      "boot_profiles" -> { () =>
        // per-doc TOKEN PROFILES + the narrow (doc_id, source)
        // projection — tokenization is paid HERE, once per doc at
        // ingest; every later scoring/calibration pass joins these
        // narrow tables instead of re-reading corpus text (ADVICE
        // round-13: cal_gate_thr used to re-tokenize corpus v1)
        wr(TextAnalysis.tokenProfiles(base), "tok_profiles")
        wr(base.select("doc_id", "source"), "doc_src")
      },
      "boot_gate_thr" -> { () =>
        // the per-doc score table KEYED BY MODEL VERSION (the _v0/_v1
        // generation suffix is the model version — receipts record
        // which one gated what), derived from the persisted profiles;
        // then the composite gate's K-row per-source cut table from
        // ONE rank window over (scores ⋈ doc_src) — the whole
        // windowed calibration cost is paid once per corpus version
        // so no delivery ever re-windows the accumulated corpus
        wr(TextAnalysis.nbScoreFromProfiles(rd("nb_lm"), rd("nb_consts"),
          rd("tok_profiles")), "nb_scores")
        wr(Curation.gateThresholdsFromScores(rd("nb_scores"), rd("doc_src")),
          "gate_thr")
      },
      "boot_manifest" -> { () =>
        // hierarchical form + the two persisted state tables of the
        // INCREMENTAL manifest: the per-doc unit store (partitioned by
        // (split, sub) so a delivery's cell recompute prunes) and the
        // sub-shard cell table
        Curation.manifestUnits(withSplit(base), subShards = SubShards)
          .write.mode("overwrite").partitionBy("split", "sub")
          .parquet(s"$work/manifest_units")
        wr(Curation.subManifestFromUnits(rdUnits("manifest_units")),
          "sub_manifest")
        wr(Curation.manifestFromSub(rd("sub_manifest")), "manifest_v0")
      },
      "boot_ann_index" -> (() =>
        // the vector side of the warehouse: IVF centroid model +
        // flat cell assignment, PQ codebook + code table, SQ8 extrema
        // + code table — FAISS's write-index, relationally, trained
        // once per corpus version on the full base
        inParallel(vectorIndex(embBase, 1.0, rd, wr, ""): _*)),
      "boot_artifact_receipts" -> (() =>
        wr(receipts(""), "artifact_manifest_v0")),

      // ---- one delivery, marginal cost ----
      "inc_exact_dedup" -> { () =>
        wr(Dedup.incrementalDedup(rd("fp_store"),
          TextAnalysis.fingerprints(delivery)), "delivery_status")
        wr(rd("delivery_status").filter(col("status") === "new")
          .select("doc_id"), "admit_exact")
      },
      "inc_near_dedup" -> { () =>
        // signatures for the whole exact-surviving slice: the fold
        // stage appends the admitted subset of this table to the
        // store, so signatures are computed once per delivery
        wr(Dedup.minhashSignatures(docsOf(rd("admit_exact"))),
          "delivery_sigs")
        // both store-side probes read the PERSISTED bucket store —
        // the store-sized (band, bhash) aggregation is an artifact
        // maintained by fold/retract, not a per-delivery recompute;
        // the signature store is touched only narrowly (band hashes
        // for the capped candidate join, keyed sig rows for scoring)
        val storeHits = Dedup.incrementalNearDupsFrom(rd("bucket_store"),
            rd("sig_store"), rd("delivery_sigs"))
          .filter(col("est_jaccard") >= NearDupThreshold)
          .select(col("id2").as("doc_id"))
        // within-delivery self-probe: two near-identical docs arriving
        // in the SAME delivery (the mass-duplicated crawl template)
        // must not both pass just because neither is indexed yet.
        // Greedy keep-one by smallest doc_id: restrict flagged pairs
        // to id1 < id2 and drop every id2 — deterministic, the exact
        // stage's dup_in_batch convention (chains a~b~c drop both b
        // and c; the cluster-accurate alternative is q72's
        // clusterKeeps, deliberately not re-run per delivery)
        val withinHits = Dedup.incrementalNearDups(rd("delivery_sigs"),
            rd("delivery_sigs"))
          .filter(col("est_jaccard") >= NearDupThreshold &&
            col("id1") < col("id2"))
          .select(col("id2").as("doc_id"))
        // over-cap rescue: a template duplicated past the LSH
        // hot-bucket cap would make the capped probe above a silent
        // no-op in exactly the mass-duplication case — the star
        // probe keeps the bucket's smallest doc and flags the rest
        val hotHits = Dedup.hotBucketPairs(rd("delivery_sigs"))
          .filter(col("est_jaccard") >= NearDupThreshold)
          .select(col("id2").as("doc_id"))
        // ... and the STORE-side twin of the same blind spot: a
        // delivery doc whose only collisions land in over-cap STORE
        // buckets (a template family already saturating the index) is
        // invisible to the capped store probe above — the index-vs-
        // batch star scores it against each hot bucket's canonical
        // store doc (ADVICE round-13); served off the bucket store,
        // it touches the index only through the scorer's keyed join
        val storeHotHits = Dedup.hotBucketProbeFrom(rd("bucket_store"),
            rd("sig_store"), rd("delivery_sigs"))
          .filter(col("est_jaccard") >= NearDupThreshold)
          .select(col("id2").as("doc_id"))
        val flagged = storeHits.unionByName(withinHits)
          .unionByName(hotHits).unionByName(storeHotHits).distinct()
        wr(rd("admit_exact").join(flagged, Seq("doc_id"), "left_anti"),
          "admit_near")
      },
      "inc_span_gate" -> { () =>
        wr(SubstringDedup.incrementalSpanStats(rd("span_index"),
          docsOf(rd("admit_near"))), "delivery_spans")
        val heavy = rd("delivery_spans")
          .filter(col("dup_fraction") > MaxDupFraction).select("doc_id")
        wr(rd("admit_near").join(heavy, Seq("doc_id"), "left_anti"),
          "admit_span")
      },
      "inc_quality_gate" -> { () =>
        // the SERVED composite gate (q179's form): persisted
        // thresholds + NB model + fused rule signals, window-free —
        // the delivery is gated by the calibrated filter stack with
        // per-rule attribution, not the raw NB score; `delivery_gate`
        // records ok_nb/ok_gopher/ok_entropy per doc so a dropped doc
        // says which rule killed it
        wr(Curation.compositeGateFrom(rd("gate_thr"), rd("nb_lm"),
          rd("nb_consts"), docsOf(rd("admit_span"))), "delivery_gate")
        wr(rd("delivery_gate").filter(col("keep"))
          .select("doc_id"), "admitted")
      },
      "inc_lm_score" -> (() =>
        // perplexity signal for the admitted docs, served entirely
        // off the persisted LM artifacts (two count-table joins +
        // broadcast constants — no reference-corpus access): the
        // quality-drift column a curation review reads next to the
        // NB gate's attribution
        wr(NgramLm.lmScoreFrom(rd("lm_bi"), rd("lm_uni"),
          rd("lm_consts"), docsOf(rd("admitted"))),
          "delivery_lm_scores")),
      "inc_manifest_diff" -> { () =>
        // INCREMENTAL receipt: the admitted docs' units fold into the
        // persisted sub-manifest, recomputing only the cells they
        // land in (member re-reads prune on the (split, sub)
        // partitioning) — delivery-proportional, never a corpus
        // re-hash. v1 receipts derive from the folded cell table.
        wr(Curation.manifestUnits(withSplit(docsOf(rd("admitted"))),
          subShards = SubShards), "delivery_units")
        wr(Curation.updatedSubManifest(rd("sub_manifest"),
          rdUnits("manifest_units"), rd("delivery_units")), "sub_manifest_v1")
        wr(Curation.manifestFromSub(rd("sub_manifest_v1")), "manifest_v1")
        wr(Curation.manifestDiff(rd("manifest_v0"), rd("manifest_v1")),
          "manifest_delta")
      },
      "inc_fold_units" -> (() =>
        // the folded unit store keeps the boot store's (split, sub)
        // partitioning: the takedown path's surviving-member re-read
        // (retractedSubManifest) prunes on it, so removal cost stays
        // removed-units-plus-touched-cells (ADVICE round-13 — a plain
        // write here silently degraded that re-read to a full scan)
        rdUnits("manifest_units").unionByName(rd("delivery_units"))
          .write.mode("overwrite").partitionBy("split", "sub")
          .parquet(s"$work/manifest_units_v1")),
      "inc_fold_fp" -> (() =>
        wr(rd("fp_store").unionByName(
          TextAnalysis.fingerprints(docsOf(rd("admitted")))), "fp_store_v1")),
      "inc_fold_sigs" -> (() =>
        wr(rd("sig_store").unionByName(
          rd("delivery_sigs").join(rd("admitted"), Seq("doc_id"))),
          "sig_store_v1")),
      "inc_fold_buckets" -> (() =>
        // keyed merge of the bucket store with the ADMITTED delivery
        // signatures' own bucket stats — delivery-proportional plus
        // a bucket-table merge, never a signature-store re-agg
        wr(Dedup.bucketStatsFold(rd("bucket_store"),
          rd("delivery_sigs").join(rd("admitted"), Seq("doc_id"))),
          "bucket_store_v1")),
      "inc_fold_lm" -> { () =>
        // the admitted TRUSTED-source docs fold into the bigram count
        // state by keyed merge; the serve pair re-derives vocab-sized
        wr(NgramLm.bigramCountsUpdate(rd("lm_bi"),
          docsOf(rd("admitted"))
            .filter(col("source").isin(PosSources: _*))), "lm_bi_v1")
        lmServe(rd, wr, "_v1")
      },
      "inc_fold_span_index" -> (() =>
        wr(SubstringDedup.updatedWindowIndex(rd("span_index"),
          docsOf(rd("admitted"))), "span_index_v1")),
      "inc_fold_sg" -> { () =>
        // store fold = APPEND (rows are doc-local); pairs fold =
        // carry untouched groups, recompute only the groups the
        // delivery's windows touch
        val admitted = docsOf(rd("admitted")).localCheckpoint(true)
        wr(rd("sg_store")
          .unionByName(SuffixArray.spanGroupStore(admitted)),
          "sg_store_v1")
        wr(SuffixArray.repeatedSpansFold(rd("sg_pairs"),
          rd("sg_store_v1"), admitted, base.unionByName(admitted)),
          "sg_pairs_v1")
      },
      "inc_fold_nb" -> { () =>
        val (vt1, dc1) = TextAnalysis.nbCountsUpdate(rd("nb_vt"),
          rd("nb_dc"), docsOf(rd("admitted")), PosSources, NegSources)
        wr(vt1, "nb_vt_v1"); wr(dc1, "nb_dc_v1")
        nbServe(rd, wr, "_v1")
      },
      "inc_fold_profiles" -> { () =>
        // the admitted docs' profiles append (doc-keyed, row-local —
        // the ONLY tokenization the recalibration path will ever need
        // for them), as does the (doc_id, source) projection
        wr(rd("tok_profiles").unionByName(
          TextAnalysis.tokenProfiles(docsOf(rd("admitted")))),
          "tok_profiles_v1")
        wr(rd("doc_src").unionByName(
          docsOf(rd("admitted")).select("doc_id", "source")), "doc_src_v1")
      },
      "inc_ann_gate" -> { () =>
        // the vector side's near-dup gate (q193's form): the delivery
        // batch probes the persisted IVF index — centroids broadcast,
        // store touched only through its cell-pruned slice — and each
        // flagged vector records its best store witness; survivors
        // are the admitted vector set the folds below consume.
        // (Batch-INTERNAL semantic dups are not gated here — the
        // corpus-version recalibration's semanticDupPairs pass owns
        // within-version dedup, q49's family — documented asymmetry
        // with the doc side's within-delivery self-probe.)
        wr(Similarity.semanticIngestGate(rd("ivf_centroids"),
          rd("ivf_cells"), embBase, embDelivery), "ann_gate")
        wr(embDelivery.select("vec_id")
          .join(rd("ann_gate").select("vec_id"), Seq("vec_id"), "left_anti"),
          "admitted_vecs")
      },
      "inc_fold_ann" -> { () =>
        // the ADMITTED delivery vectors assign/encode under the
        // SERVING (v0) model and APPEND — delivery-proportional, one
        // broadcast-model scan each; assignment and encoding are
        // row-local, so the fold is asserted bit-equal to a
        // from-scratch pass under the same model (checksOver). The
        // serve pair between recals is (v0 model, folded stores) —
        // always consistent
        wr(rd("ivf_cells").unionByName(
          Similarity.cellsFromCentroids(rd("ivf_centroids"), admittedVecs)),
          "ivf_cells_fold")
        wr(rd("pq_codes").unionByName(
          Similarity.pqEncodeFrom(rd("pq_codebook"), admittedVecs)),
          "pq_codes_fold")
        wr(rd("sq_codes").unionByName(
          Similarity.sqEncodeFrom(rd("sq_stats"), admittedVecs)),
          "sq_codes_fold")
      },
      "cal_gate_thr" -> { () =>
        // re-calibrate the per-source cuts off the FOLDED v1 model:
        // the v1 SCORE TABLE derives from the persisted token
        // profiles (one vocabulary-sized LM join — corpus TEXT is
        // never re-read, let alone re-tokenized: ADVICE round-13),
        // then one rank window over (scores ⋈ doc_src). Still
        // corpus-version-proportional (a rank prefix is not an
        // additive fold) — but proportional to the NARROW score
        // table now, not to corpus text — so it stays on
        // recalibration cadence, amortized across deliveries
        wr(TextAnalysis.nbScoreFromProfiles(rd("nb_lm_v1"),
          rd("nb_consts_v1"), rd("tok_profiles_v1")), "nb_scores_v1")
        wr(Curation.gateThresholdsFromScores(rd("nb_scores_v1"),
          rd("doc_src_v1")), "gate_thr_v1")
      },
      "cal_ann_model" -> { () =>
        // centroid/codebook RETRAIN over corpus v1 (base ∪ ADMITTED
        // delivery vectors) — the ANN family's recalibration-class
        // refresh (Lloyd passes are not an additive fold, exactly
        // like the gate's rank prefix), then one row-local
        // reassign/re-encode scan so the published v1 generation is
        // a CONSISTENT (model, store) pair. Between recals, serving
        // rides the v0 model + folded stores above
        // Lloyd passes on the md5 half-sample ([[CalTrainFraction]]);
        // assignment and encoding still scan every v1 vector
        inParallel(vectorIndex(v1Vecs, CalTrainFraction, rd, wr, "_v1"): _*)
      },
      "cal_artifact_receipts" -> { () =>
        // receipts over the REFRESHED artifact stores + the diff:
        // the per-artifact "changed/unchanged" record a warehouse
        // stores next to the delivery's corpus manifest_delta, so
        // "which artifact version gated this delivery" is answerable
        // without re-hashing artifact bytes later
        wr(receipts("_v1"), "artifact_manifest_v1")
        wr(Curation.manifestDiff(rd("artifact_manifest_v0"),
          rd("artifact_manifest_v1"), "artifact"), "artifact_delta")
      })
  }

  /** TAKEDOWN stages (`tdn_*`): retract a removal slice (compliance
    * deletion / right-to-be-forgotten) from EVERY persisted store the
    * ingest path maintains, producing the `_v2` artifact generation —
    * without ever re-reading or re-tokenizing the surviving corpus:
    * the id-keyed stores (fingerprints, signatures, manifest units)
    * anti-join the removal ids; the count-based state folds DOWN
    * (additive counts subtract exactly — [[graft.operators
    * .SubstringDedup.retractedWindowIndex]], [[graft.operators
    * .TextAnalysis.nbCountsRetract]]); the receipts recompute only
    * the touched cells ([[graft.operators.Curation
    * .retractedSubManifest]]); and the gate cut table re-derives from
    * the retracted model (corpus-version-proportional, the cal_*
    * recalibration class — a takedown IS a corpus version change).
    * Every `_v2` artifact is asserted equal to a from-scratch build
    * over the surviving corpus in [[takedownChecksOver]], so
    * takedown-then-serve and rebuild-then-serve interchange. Runs
    * AFTER [[stagesOver]] against the same `work` (it consumes the
    * `_v1` generation). The removal slice is a content-stable md5
    * bucket of corpus v1, cutting across the original base AND the
    * admitted delivery.
    */
  def takedownStagesOver(spark: SparkSession, base: DataFrame,
      delivery: DataFrame, embBase: DataFrame, embDelivery: DataFrame,
      work: String): Seq[(String, () => Unit)] = {
    val w = new Work(spark, work, base, delivery, embBase, embDelivery)
    import w._
    Seq(
      "tdn_removal_set" -> (() =>
        // an md5 bucket of corpus v1 (~1/7th), not a doc_id range —
        // takedowns arrive by content/ownership, not by ingest order
        wr(v1.filter(Curation.hashBucket(col("doc_id"), 7) === 3),
          "removed_docs")),
      "tdn_fp_store" -> (() =>
        wr(minusRemoved(rd("fp_store_v1")), "fp_store_v2")),
      "tdn_sig_store" -> (() =>
        wr(minusRemoved(rd("sig_store_v1")), "sig_store_v2")),
      "tdn_bucket_store" -> (() =>
        // counts subtract per touched bucket, zero buckets drop, and
        // a bucket whose canonical min was removed repairs it from
        // the surviving signatures (affected buckets only)
        wr(Dedup.bucketStatsRetract(rd("bucket_store_v1"),
          rd("sig_store_v2"),
          rd("sig_store_v1").join(rd("removed_docs").select("doc_id"),
            Seq("doc_id"))), "bucket_store_v2")),
      "tdn_sg" -> { () =>
        // store retract = anti-join the removed ids; pairs retract =
        // carry untouched groups, recompute the removed docs' groups
        // from the surviving members. The pairs leg reads the SAME
        // anti-join expression the store write persists (identical
        // rows either way — the anti-join is deterministic), so the
        // two legs overlap instead of serializing on the parquet
        // round trip
        val store2 = minusRemoved(rd("sg_store_v1"))
        inParallel(
          () => wr(store2, "sg_store_v2"),
          () => wr(SuffixArray.repeatedSpansRetract(rd("sg_pairs_v1"),
            store2, rd("removed_docs"), v2), "sg_pairs_v2"))
      },
      "tdn_lm" -> { () =>
        // removed trusted-source docs retract from the bigram count
        // state (signed keyed merge, corruption guards); a compliant
        // serve model re-derives from the retracted counts
        wr(NgramLm.bigramCountsRetract(rd("lm_bi_v1"),
          rd("removed_docs").filter(col("source").isin(PosSources: _*))),
          "lm_bi_v2")
        lmServe(rd, wr, "_v2")
      },
      "tdn_span_index" -> (() =>
        wr(SubstringDedup.retractedWindowIndex(rd("span_index_v1"),
          rd("removed_docs")), "span_index_v2")),
      "tdn_nb" -> { () =>
        val (vt2, dc2) = TextAnalysis.nbCountsRetract(rd("nb_vt_v1"),
          rd("nb_dc_v1"), rd("removed_docs"), PosSources, NegSources)
        wr(vt2, "nb_vt_v2"); wr(dc2, "nb_dc_v2")
        nbServe(rd, wr, "_v2")
      },
      "tdn_manifest" -> { () =>
        // the manifest chain and the surviving-units rewrite share
        // only manifest_units_v1 (a read) — overlapped (inParallel)
        inParallel(
          () => {
            wr(Curation.manifestUnits(withSplit(rd("removed_docs")),
              subShards = SubShards), "removed_units")
            // the surviving-member re-read inside retractedSubManifest
            // prunes on the unit store's (split, sub) partitioning —
            // the removed-units-plus-touched-cells cost claim depends
            // on inc_fold_units having written the store partitioned
            wr(Curation.retractedSubManifest(rd("sub_manifest_v1"),
              rdUnits("manifest_units_v1"), rd("removed_units")),
              "sub_manifest_v2")
            wr(Curation.manifestFromSub(rd("sub_manifest_v2")),
              "manifest_v2")
            wr(Curation.manifestDiff(rd("manifest_v1"), rd("manifest_v2")),
              "manifest_delta_v2")
          },
          () => minusRemoved(rdUnits("manifest_units_v1"))
            .write.mode("overwrite").partitionBy("split", "sub")
            .parquet(s"$work/manifest_units_v2"))
      },
      "tdn_profiles" -> { () =>
        // token profiles and the source projection are doc-keyed —
        // right-to-be-forgotten is one anti-join each
        wr(minusRemoved(rd("tok_profiles_v1")), "tok_profiles_v2")
        wr(minusRemoved(rd("doc_src_v1")), "doc_src_v2")
      },
      "tdn_gate_thr" -> { () =>
        // v2 score table from the RETRACTED model over the RETRACTED
        // profiles — surviving corpus text is never re-read — then
        // the rank window over the narrow tables (recalibration
        // class: a takedown IS a corpus version change)
        wr(TextAnalysis.nbScoreFromProfiles(rd("nb_lm_v2"),
          rd("nb_consts_v2"), rd("tok_profiles_v2")), "nb_scores_v2")
        wr(Curation.gateThresholdsFromScores(rd("nb_scores_v2"),
          rd("doc_src_v2")), "gate_thr_v2")
      },
      "tdn_removal_vecs" -> (() =>
        // the vector side of the removal: the same content-stable md5
        // bucket rule applied to vec_id over the v1 embedding corpus
        // (base ∪ gate-admitted delivery vectors; a production
        // warehouse resolves removed doc_ids to their vectors — the
        // fixture tables are independent, so the slice is drawn
        // directly)
        wr(v1Vecs.filter(Curation.hashBucket(col("vec_id"), 7) === 3)
          .select("vec_id"), "removed_vecs")),
      "tdn_ann_stores" -> { () =>
        // IMMEDIATE right-to-be-forgotten on the id-keyed vector
        // stores: anti-join the removal slice out of the v1 cell and
        // code tables. Serving stays consistent — the retracted
        // stores still pair with the v1 model, and because
        // assignment/encoding are row-local the retract is asserted
        // bit-equal to a from-scratch pass over the survivors under
        // that same model (takedownChecksOver; q188/q189 gate the
        // same property under the DuckDB oracle)
        def minusVecs(df: DataFrame): DataFrame =
          df.join(rd("removed_vecs"), Seq("vec_id"), "left_anti")
        wr(minusVecs(rd("ivf_cells_v1")), "ivf_cells_tdn")
        wr(minusVecs(rd("pq_codes_v1")), "pq_codes_tdn")
        wr(minusVecs(rd("sq_codes_v1")), "sq_codes_tdn")
      },
      "tdn_ann_model" -> { () =>
        // model retrain over the SURVIVORS — recalibration-class,
        // like tdn_gate_thr (Lloyd centroids/codewords cannot be
        // exactly downdated the way additive NB counts can; a model
        // keeping statistical influence of removed vectors is exactly
        // what a takedown must not leave behind) — then one row-local
        // scan publishes the consistent v2 (model, store) pair
        // sampled Lloyd passes ([[CalTrainFraction]]) over the
        // SURVIVORS only — the md5 sample is drawn from `v2Vecs`, so
        // no removed vector influences the v2 model even statistically
        inParallel(vectorIndex(v2Vecs, CalTrainFraction, rd, wr, "_v2"): _*)
      },
      "tdn_receipts" -> { () =>
        wr(receipts("_v2"), "artifact_manifest_v2")
        wr(Curation.manifestDiff(rd("artifact_manifest_v1"),
          rd("artifact_manifest_v2"), "artifact"), "artifact_delta_v2")
      })
  }

  /** Fold-down-vs-rebuild equality per retracted artifact (over the
    * surviving corpus v2 = v1 ∖ removed) plus the no-trace
    * invariants. Run AFTER [[takedownStagesOver]].
    */
  def takedownChecksOver(spark: SparkSession, base: DataFrame,
      delivery: DataFrame, embBase: DataFrame, embDelivery: DataFrame,
      work: String): Seq[(String, () => Unit)] = {
    val w = new Work(spark, work, base, delivery, embBase, embDelivery)
    import w._
    val same = sameRows("takedown diverged from rebuild") _
    Seq(
      "takedown removal set non-empty" -> (() =>
        require(rd("removed_docs").count() > 0,
          "empty removal slice — the takedown path went unexercised")),
      "fp store takedown == rebuild" -> (() =>
        same("fp_store_v2", rd("fp_store_v2"),
          TextAnalysis.fingerprints(v2))),
      "sig store takedown == rebuild" -> (() =>
        same("sig_store_v2", rd("sig_store_v2"),
          Dedup.minhashSignatures(v2))),
      "bucket store takedown == rebuild" -> (() =>
        // keyed retract (counts down, minima repaired) vs a rebuild
        // over the surviving corpus, independently re-signed
        same("bucket_store_v2", rd("bucket_store_v2"),
          Dedup.bucketStats(Dedup.minhashSignatures(v2)))),
      "lm counts takedown == re-train" -> { () =>
        val refV2 = v2.filter(col("source").isin(PosSources: _*))
          .localCheckpoint(true)
        same("lm_bi_v2", rd("lm_bi_v2"), NgramLm.bigramCounts(refV2))
        val (uni, consts) = NgramLm.lmFromCounts(
          NgramLm.bigramCounts(refV2))
        same("lm_uni_v2", rd("lm_uni_v2"), uni)
        same("lm_consts_v2", rd("lm_consts_v2"), consts)
      },
      "span index takedown == rebuild" -> (() =>
        same("span_index_v2", rd("span_index_v2"),
          SubstringDedup.windowIndex(v2))),
      "span-group store + pairs takedown == rebuild" -> { () =>
        same("sg_store_v2", rd("sg_store_v2"),
          SuffixArray.spanGroupStore(v2))
        same("sg_pairs_v2", rd("sg_pairs_v2"),
          SuffixArray.repeatedSpansWithKey(
            SuffixArray.spanGroupStore(v2), v2))
      },
      "nb counts takedown == re-train" -> { () =>
        val (vt, dc) = TextAnalysis.nbCounts(v2, PosSources, NegSources)
        same("nb_vt_v2", rd("nb_vt_v2"), vt)
        same("nb_dc_v2", rd("nb_dc_v2"), dc)
      },
      "nb serve model takedown == re-train" -> { () =>
        val (lm, consts) = TextAnalysis.nbModel(v2, PosSources, NegSources)
        same("nb_lm_v2", rd("nb_lm_v2"), lm)
        same("nb_consts_v2", rd("nb_consts_v2"), consts)
      },
      "gate thresholds takedown == from-scratch calibration" -> (() =>
        same("gate_thr_v2", rd("gate_thr_v2"),
          Curation.gateThresholds(v2, PosSources, NegSources))),
      "manifest takedown == from-scratch hierarchical" -> { () =>
        same("manifest_v2", rd("manifest_v2"),
          Curation.shardManifest(withSplit(v2), subShards = SubShards))
        same("manifest_units_v2",
          rdUnits("manifest_units_v2").select("split", "sub", "doc_id", "fp",
            "n_tok"),
          Curation.manifestUnits(withSplit(v2), subShards = SubShards)
            .select("split", "sub", "doc_id", "fp", "n_tok"))
      },
      "no removed doc remains in any id-keyed store" -> { () =>
        val ids = rd("removed_docs").select("doc_id")
        for (p <- Seq("fp_store_v2", "sig_store_v2", "manifest_units_v2",
            "tok_profiles_v2", "doc_src_v2", "nb_scores_v2")) {
          val left = rd(p).join(ids, Seq("doc_id")).count()
          require(left == 0, s"$left removed docs still present in $p")
        }
      },
      "a re-submitted removed doc probes as new (no ghost state)" -> { () =>
        // the other half of right-to-be-forgotten, as an END-TO-END
        // tripwire: re-probe the removal slice against the v2 store
        // and compare with CORPUS ground truth — fingerprints derived
        // from the surviving docs THEMSELVES, not from the store
        // under test (comparing against the store would be true by
        // construction). A resubmitted doc may classify dup_of_index
        // only if some surviving doc carries the same text (which is
        // knowledge, not residue); and it must NOT classify new when
        // a surviving twin exists (the takedown must not have
        // over-purged shared-text fingerprints)
        val resubmit = TextAnalysis.fingerprints(rd("removed_docs"))
        val probe = Dedup.incrementalDedup(rd("fp_store_v2"), resubmit)
        val truthFps = TextAnalysis.fingerprints(v2).select("fp").distinct()
        val ghosts = probe.filter(col("status") === "dup_of_index")
          .join(truthFps, Seq("fp"), "left_anti").count()
        require(ghosts == 0,
          s"$ghosts re-submitted docs hit fingerprint residue in the v2 store")
        val missed = probe.filter(col("status") === "new")
          .join(truthFps, Seq("fp")).count()
        require(missed == 0,
          s"$missed re-submitted docs with surviving twins probed as new")
      },
      "ann store takedown == rebuild under the serving model" -> { () =>
        // the id-keyed retract (under the v1 model) must be
        // bit-identical to assigning/encoding the survivors from
        // scratch under that SAME model — the row-locality property
        // that makes the vector-store takedown exact
        same("ivf_cells_tdn", rd("ivf_cells_tdn"),
          Similarity.cellsFromCentroids(rd("ivf_centroids_v1"), v2Vecs))
        same("pq_codes_tdn", rd("pq_codes_tdn"),
          Similarity.pqEncodeFrom(rd("pq_codebook_v1"), v2Vecs))
        same("sq_codes_tdn", rd("sq_codes_tdn"),
          Similarity.sqEncodeFrom(rd("sq_stats_v1"), v2Vecs))
      },
      "ann v2 serve == from-scratch index over survivors" -> { () =>
        // the retrained v2 (model, store) pair must SERVE exactly what
        // a from-scratch index build over the survivors serves — the
        // composed==standalone discipline at the takedown boundary
        // (non-vacuous: the persisted pair round-trips parquet)
        val surv = v2Vecs.localCheckpoint(true)
        same("ivf_v2_serve",
          Similarity.ivfTopKFrom(rd("ivf_centroids_v2"), rd("ivf_cells_v2"),
            surv),
          Similarity.ivfTopK(surv, trainFraction = CalTrainFraction))
        same("pq_v2_serve",
          Similarity.pqAdcFromCodes(rd("pq_codes_v2"), rd("pq_codebook_v2"),
            surv),
          Similarity.pqAdcTopK(surv, trainFraction = CalTrainFraction))
        same("sq_v2_serve",
          Similarity.sqTopKFromCodes(rd("sq_codes_v2"), rd("sq_stats_v2"),
            surv),
          Similarity.sqTopK(surv))
      },
      "no removed vector remains in any vector store" -> { () =>
        val ids = rd("removed_vecs")
        require(ids.count() > 0,
          "empty vector removal slice — the ann takedown went unexercised")
        for (p <- Seq("ivf_cells_tdn", "pq_codes_tdn", "sq_codes_tdn",
            "ivf_cells_v2", "pq_codes_v2", "sq_codes_v2")) {
          val left = rd(p).join(ids, Seq("vec_id")).count()
          require(left == 0, s"$left removed vectors still present in $p")
        }
      },
      "artifact receipts flip on the takedown" -> { () =>
        val stale = rd("artifact_delta_v2")
          .filter(col("artifact").isin("fp_store", "sig_store",
            "bucket_store", "span_index", "ivf_cells", "pq_codes",
            "sq_codes")
            && col("status") === "unchanged").count()
        require(stale == 0,
          s"$stale store receipts failed to flip on a non-empty takedown")
      })
  }

  /** Fold-vs-from-scratch equality per maintained artifact (over
    * corpus v1 = base ∪ admitted) plus the gate invariants. Run AFTER
    * [[stagesOver]] against the same `work` and frames.
    */
  def checksOver(spark: SparkSession, base: DataFrame, delivery: DataFrame,
      embBase: DataFrame, embDelivery: DataFrame,
      work: String): Seq[(String, () => Unit)] = {
    val w = new Work(spark, work, base, delivery, embBase, embDelivery)
    import w._
    val same = sameRows("fold diverged from from-scratch") _
    Seq(
      "fp store fold == from-scratch" -> (() =>
        same("fp_store_v1", rd("fp_store_v1"),
          TextAnalysis.fingerprints(v1))),
      "sig store fold == from-scratch" -> (() =>
        same("sig_store_v1", rd("sig_store_v1"),
          Dedup.minhashSignatures(v1))),
      "bucket store fold == from-scratch" -> (() =>
        // ground truth from the v1 CORPUS (re-signed), not from the
        // sig store under test — the independent-derivation rule
        same("bucket_store_v1", rd("bucket_store_v1"),
          Dedup.bucketStats(Dedup.minhashSignatures(v1)))),
      "lm counts fold == from-scratch" -> { () =>
        val refV1 = v1.filter(col("source").isin(PosSources: _*))
          .localCheckpoint(true)
        same("lm_bi_v1", rd("lm_bi_v1"), NgramLm.bigramCounts(refV1))
        val (uni, consts) = NgramLm.lmFromCounts(
          NgramLm.bigramCounts(refV1))
        same("lm_uni_v1", rd("lm_uni_v1"), uni)
        same("lm_consts_v1", rd("lm_consts_v1"), consts)
      },
      "lm scores served off artifacts == training-corpus scoring" -> (() =>
        // the persisted-artifact serve path must score the admitted
        // docs exactly as a from-scratch train+score over the v0
        // reference slice would
        same("delivery_lm_scores", rd("delivery_lm_scores"),
          NgramLm.lmScore(base.filter(col("source").isin(PosSources: _*)),
            docsOf(rd("admitted"))))),
      "span index fold == from-scratch" -> (() =>
        same("span_index_v1", rd("span_index_v1"),
          SubstringDedup.windowIndex(v1))),
      "span-group store + pairs fold == from-scratch" -> { () =>
        same("sg_store_v1", rd("sg_store_v1"),
          SuffixArray.spanGroupStore(v1))
        same("sg_pairs_v1", rd("sg_pairs_v1"),
          SuffixArray.repeatedSpansWithKey(
            SuffixArray.spanGroupStore(v1), v1))
      },
      "nb counts fold == from-scratch" -> { () =>
        val (vt, dc) = TextAnalysis.nbCounts(v1, PosSources, NegSources)
        same("nb_vt_v1", rd("nb_vt_v1"), vt)
        same("nb_dc_v1", rd("nb_dc_v1"), dc)
      },
      "nb serve model fold == from-scratch" -> { () =>
        val (lm, consts) = TextAnalysis.nbModel(v1, PosSources, NegSources)
        same("nb_lm_v1", rd("nb_lm_v1"), lm)
        same("nb_consts_v1", rd("nb_consts_v1"), consts)
      },
      "gate thresholds refresh == from-scratch calibration" -> (() =>
        // the v1 cut table (derived from the FOLDED model) must equal
        // the one a from-scratch calibration over corpus v1 trains —
        // gateThresholds retrains NB internally, so this transitively
        // re-proves the model fold through the gate's own artifact
        same("gate_thr_v1", rd("gate_thr_v1"),
          Curation.gateThresholds(v1, PosSources, NegSources))),
      "served gate (v1 artifacts) == windowed composite gate over v1" -> (() =>
        // the CurationSpec served==windowed equality at the DEMO
        // boundary: the refreshed artifacts, served window-free over
        // corpus v1, reproduce the windowed compositeGate exactly
        same("served_gate_v1",
          Curation.compositeGateFrom(rd("gate_thr_v1"), rd("nb_lm_v1"),
            rd("nb_consts_v1"), v1),
          Curation.compositeGate(v1, PosSources, NegSources))),
      "incremental span stats == from-scratch" -> (() =>
        // the gate scored admit_near docs against the v0 index; the
        // batch twin is dupSpanStats over v0 ∪ that same batch,
        // restricted to the batch's ids
        same("delivery_spans", rd("delivery_spans"),
          SubstringDedup.dupSpanStats(
            base.unionByName(docsOf(rd("admit_near"))))
            .join(rd("admit_near").select("doc_id"), Seq("doc_id")))),
      "delivery fully classified" -> { () =>
        val n = delivery.count()
        val s = rd("delivery_status").count()
        require(n == s, s"delivery has $n docs but $s status rows")
        val badStatus = rd("delivery_status")
          .filter(!col("status").isin("new", "dup_of_index", "dup_in_batch"))
          .count()
        require(badStatus == 0, s"$badStatus rows with unknown status")
      },
      "admitted fingerprints unseen in v0 store" -> { () =>
        val clash = TextAnalysis.fingerprints(docsOf(rd("admitted")))
          .join(rd("fp_store"), Seq("fp")).count()
        require(clash == 0, s"$clash admitted docs collide with the fp store")
      },
      "admitted near-dup-free within the delivery" -> { () =>
        // the greedy keep-one rule must leave NO flagged pair among
        // the admitted docs: re-probe the admitted slice's signatures
        // against themselves — INCLUDING the over-cap star probe, so
        // a mass-duplicated template cannot pass this check by
        // saturating the very bucket cap that hid it from the stage
        val kept = rd("delivery_sigs").join(rd("admitted"), Seq("doc_id"))
        val pairs = Dedup.incrementalNearDups(kept, kept)
          .filter(col("est_jaccard") >= NearDupThreshold &&
            col("id1") < col("id2")).count()
        require(pairs == 0, s"$pairs near-dup pairs survive among admitted")
        val hotPairs = Dedup.hotBucketPairs(kept)
          .filter(col("est_jaccard") >= NearDupThreshold).count()
        require(hotPairs == 0,
          s"$hotPairs over-cap near-dup pairs survive among admitted")
      },
      "admitted collide with no over-cap store bucket" -> { () =>
        // the store-side star: an admitted doc matching the canonical
        // doc of an over-cap STORE bucket slipped through the capped
        // store probe — exactly the blind spot the index-vs-batch
        // star probe in inc_near_dedup exists to close
        val kept = rd("delivery_sigs").join(rd("admitted"), Seq("doc_id"))
        val storeHot = Dedup.hotBucketProbe(rd("sig_store"), kept)
          .filter(col("est_jaccard") >= NearDupThreshold).count()
        require(storeHot == 0,
          s"$storeHot admitted docs match over-cap store-bucket canonicals")
      },
      "profiles fold == from-scratch" -> { () =>
        same("tok_profiles_v1", rd("tok_profiles_v1"),
          TextAnalysis.tokenProfiles(v1))
        same("doc_src_v1", rd("doc_src_v1"), v1.select("doc_id", "source"))
      },
      "persisted v1 scores == scoring corpus v1 text directly" -> (() =>
        // the profile path (persisted narrow projection ⋈ v1 LM) must
        // equal one text-scoring pass over corpus v1 — the equality
        // that licenses never re-tokenizing at recalibration
        same("nb_scores_v1", rd("nb_scores_v1"),
          TextAnalysis.nbScoreFrom(rd("nb_lm_v1"), rd("nb_consts_v1"), v1))),
      "ann gate: flags witness the store, admitted ∪ flagged = delivery" -> { () =>
        // funnel conservation + witness validity: every flagged
        // vector's nn_id is a store vector, flagged ∩ admitted = ∅,
        // and together they cover the delivery exactly
        val flagged = rd("ann_gate")
        val orphan = flagged.select(col("nn_id").as("vec_id"))
          .join(embBase.select("vec_id"), Seq("vec_id"), "left_anti").count()
        require(orphan == 0, s"$orphan gate witnesses are not store vectors")
        val overlap = flagged.select("vec_id")
          .join(rd("admitted_vecs"), Seq("vec_id")).count()
        require(overlap == 0, s"$overlap vectors both flagged and admitted")
        val total = flagged.count() + rd("admitted_vecs").count()
        val n = embDelivery.count()
        require(total == n,
          s"gate split $total vectors of a $n-vector delivery")
      },
      "ann fold == from-scratch under the v0 model" -> { () =>
        // row-local assignment/encoding commute with row subsets:
        // store ∪ admitted-derived rows must equal one from-scratch
        // pass over corpus v1 under the SAME (v0) model, bit for bit
        same("ivf_cells_fold", rd("ivf_cells_fold"),
          Similarity.cellsFromCentroids(rd("ivf_centroids"), v1Vecs))
        same("pq_codes_fold", rd("pq_codes_fold"),
          Similarity.pqEncodeFrom(rd("pq_codebook"), v1Vecs))
        same("sq_codes_fold", rd("sq_codes_fold"),
          Similarity.sqEncodeFrom(rd("sq_stats"), v1Vecs))
      },
      "ann v1 serve == from-scratch index over v1" -> { () =>
        // the recalibrated (model, store) pair, read back off parquet,
        // must serve exactly what a from-scratch index build over
        // corpus v1 serves — the q34/q118 served==retrained
        // equality at the ingest boundary
        val embV1 = v1Vecs.localCheckpoint(true)
        // from-scratch twins train at the SAME CalTrainFraction the
        // recal stage published with — the equality gates the
        // (model, store) pair consistency, not the fraction choice
        same("ivf_v1_serve",
          Similarity.ivfTopKFrom(rd("ivf_centroids_v1"), rd("ivf_cells_v1"),
            embV1),
          Similarity.ivfTopK(embV1, trainFraction = CalTrainFraction))
        same("pq_v1_serve",
          Similarity.pqAdcFromCodes(rd("pq_codes_v1"), rd("pq_codebook_v1"),
            embV1),
          Similarity.pqAdcTopK(embV1, trainFraction = CalTrainFraction))
        same("sq_v1_serve",
          Similarity.sqTopKFromCodes(rd("sq_codes_v1"), rd("sq_stats_v1"),
            embV1),
          Similarity.sqTopK(embV1))
      },
      "manifest diff is additive" -> { () =>
        val removed = rd("manifest_delta")
          .filter(col("status") === "removed").count()
        require(removed == 0, s"additive ingest produced $removed removed shards")
      },
      "incremental manifest == from-scratch hierarchical" -> (() =>
        same("manifest_v1", rd("manifest_v1"),
          Curation.shardManifest(withSplit(v1), subShards = SubShards))),
      "sub-manifest fold == from-scratch cells" -> { () =>
        val v1Units = Curation.manifestUnits(withSplit(v1),
          subShards = SubShards)
        same("sub_manifest_v1",
          rd("sub_manifest_v1").select("split", "sub", "n_docs", "n_tok",
            "sub_md5"),
          Curation.subManifestFromUnits(v1Units)
            .select("split", "sub", "n_docs", "n_tok", "sub_md5"))
        same("manifest_units_v1",
          rdUnits("manifest_units_v1").select("split", "sub", "doc_id", "fp",
            "n_tok"),
          v1Units.select("split", "sub", "doc_id", "fp", "n_tok"))
      },
      "artifact receipts deterministic + flip exactly on change" -> { () =>
        // (a) determinism: re-hashing the SAME v0 artifacts must
        // reproduce the stored receipt bit-for-bit
        same("artifact_manifest_v0(redo)",
          Curation.artifactManifest(ReceiptedArtifacts.map(n =>
            n -> rd(n))),
          rd("artifact_manifest_v0"))
        // (b) the diff covers exactly the receipted artifacts, with
        // no added/removed rows (refresh rewrites every store)
        val delta = rd("artifact_delta")
        require(delta.count() == ReceiptedArtifacts.size.toLong,
          "artifact delta does not cover the receipted artifact set")
        val phantom = delta.filter(col("status").isin("added", "removed"))
          .count()
        require(phantom == 0, s"$phantom artifacts appeared/vanished")
        // (c) receipts FLIP where the refresh folded new content: a
        // non-empty admitted set changes fp/sig/span stores by
        // construction (the NB/threshold artifacts can legitimately
        // be byte-identical when the admitted docs carry no labeled
        // tokens, so no assertion there)
        val admitted = rd("admitted").count()
        if (admitted > 0) {
          val stale = delta
            .filter(col("artifact").isin("fp_store", "sig_store",
              "bucket_store", "span_index")
              && col("status") === "unchanged").count()
          require(stale == 0,
            s"$stale store receipts failed to flip on a non-empty fold")
        }
        // the vector stores flip whenever the delivery carried vectors
        if (embDelivery.limit(1).count() > 0) {
          val staleVec = delta
            .filter(col("artifact").isin("ivf_cells", "pq_codes", "sq_codes")
              && col("status") === "unchanged").count()
          require(staleVec == 0,
            s"$staleVec vector-store receipts failed to flip on a " +
              "non-empty vector delivery")
        }
      })
  }
}
