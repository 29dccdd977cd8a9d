package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions.{col, concat, explode, length, lit, md5, min_by, posexplode, sequence, when}

import graft.analytics.DistributionFit
import graft.operators.{BloomDecontam, Bpe, Curation, Dedup, Events, Logistic, Multimodal, NgramLm, Similarity, Sketches, SkewJoin, StarQueries, SubstringDedup, TextAnalysis, Unigram}
import graft.sources.Tables

/** Driver-contract entries for the training-data-pipeline operators
  * (dedup, text analysis, similarity search, event rollup/sessions) —
  * merged into SparkEntry.queries / SparkEntry.oracleSql.
  *
  * Every oracle mirrors the Spark computation exactly: md5 for all
  * hashing (identical hex in both engines), lexicographic mins for
  * minhash, integer-derived ratios/divisions for scores, quantized
  * integer dots for cosine. See operator Scaladocs for the argument.
  */
object TrainingEntries {

  private def q(f: Tables => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => f(Tables(s, dir))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_dedup_exact"    -> q(t => Dedup.exactDuplicates(t.documents)),
    "q21_doc_stats"      -> q(t => TextAnalysis.docStats(t.documents)),
    "q22_lang_id"        -> q(t => TextAnalysis.langId(t.documents)),
    "q23_quality"        -> q(t => TextAnalysis.quality(t.documents)),
    "q24_fingerprints"   -> q(t => TextAnalysis.fingerprints(t.documents)),
    "q25_minhash_sig"    -> q(t => Dedup.minhashSignatures(t.documents)),
    "q26_minhash_dups"   -> q(t => Dedup.minhashDupPairs(t.documents, threshold = 0.7)),
    // 5-gram shingles: 3-grams are ubiquitous (every trigram exceeds
    // the df cut in a 5k-doc corpus) — 5-grams stay selective
    "q27_ngram_jaccard"  -> q(t => Dedup.ngramJaccardPairs(t.documents, n = 5, threshold = 0.5)),
    "q28_simhash"        -> q(t => Dedup.simhashes(t.documents)),
    "q29_simhash_dups"   -> q(t => Dedup.simhashDupPairs(t.documents)),
    "q30_knn_brute"      -> q(t => Similarity.bruteForceTopK(t.embeddings)),
    "q31_knn_lsh"        -> q(t => Similarity.lshTopK(t.embeddings)),
    // serves the persisted IVF index (centroids + cells) from the
    // warehouse 'ann' family (Bench's ann_build leg prices the
    // build); the in-entry training form stays spec-pinned
    // (TrainingOpsSpec)
    "q34_knn_ivf"        -> ((s: SparkSession, d: String) =>
      Similarity.ivfTopKFrom(ComposedArtifacts.ivfCentroids(s, d),
        ComposedArtifacts.ivfCells(s, d), Tables(s, d).embeddings)),
    // threshold tuned to the fixture: max pairwise cosine is ~0.51,
    // so 0.35 with 4×8-bit hyperplane tables yields a real
    // (non-empty, ~30-pair) dup set
    "q35_embed_dups"     -> q(t =>
      Similarity.cosineDupPairs(t.embeddings, threshold = 0.35)),
    "q32_event_hourly"   -> q(t => Events.hourlyRollup(t.events)),
    "q33_sessionize"     -> q(t => Events.sessionize(t.events)),
    "q36_props_extract"  -> q(t => Events.propsKeyStats(t.events)),
    // Multimodal pipeline, hash-gated end to end over REAL container
    // formats: synthesize valid WAV/BMP/BMP-container files → batched
    // REAL decode (MediaCodec header parse + sample/pixel extraction)
    // → per-dim stripe features (q37), then the features → ANN
    // hand-off (q38). The oracle regenerates the decoded content from
    // the synthesis formulas WITHOUT a codec, so a hash match proves
    // the engine's encode∘decode round-trip is the identity on real
    // files. Arithmetic is integer-exact until one final float cast
    // precisely so these twins can exist.
    "q37_media_features" -> q(t =>
      Multimodal.extractFeatures(Multimodal.synthesizeMediaFiles(t.documents))
        .toDF().select(col("media_id"), col("modality"),
          posexplode(col("features")).as(Seq("d", "f")))),
    "q38_media_ann"      -> q(t =>
      Similarity.bruteForceTopK(Multimodal.featuresAsEmbeddings(
        Multimodal.extractFeatures(Multimodal.synthesizeMediaFiles(t.documents))))),
    // Per-format decode audits over the real stores: scalar
    // aggregates of the actual decoded PCM samples (q221), decoded
    // pixels incl. the bottom-up flip and row padding (q222), and the
    // container-walked sampled frames (q223)
    "q221_wav_decode"    -> q(t =>
      Multimodal.wavFeatures(Multimodal.synthesizeMediaFiles(t.documents))),
    "q222_bmp_decode"    -> q(t =>
      Multimodal.bmpFeatures(Multimodal.synthesizeMediaFiles(t.documents))),
    "q223_frame_decode"  -> q(t =>
      Multimodal.videoFrameFeatures(
        Multimodal.synthesizeMediaFiles(t.documents))),
    // Real media TRANSFORMS (decode → resample → re-encode), gated
    // through the decode audits over the rewritten bytes: nearest-
    // neighbor image resize (q233) and PCM resample (q234) — integer
    // index math, so the oracle regenerates the resampled content
    "q233_bmp_resize"    -> q(t =>
      Multimodal.bmpFeatures(Multimodal.resize(
        Multimodal.synthesizeMediaFiles(t.documents), 8, 5))),
    "q234_wav_resample"  -> q(t =>
      Multimodal.wavFeatures(Multimodal.resampleWav(
        Multimodal.synthesizeMediaFiles(t.documents), 8000))),
    // Curation: the selection/split steps between dedup and the
    // tokenizer — all md5-deterministic, hence hash-gated
    "q39_freq_rank"      -> q(t =>
      DistributionFit.rankTable(StarQueries.q02ExplodeCount(t))),
    "q40_hash_split"     -> q(t => Curation.hashSplit(t.documents)),
    "q41_source_cap"     -> q(t => Curation.sourceCap(t.documents)),
    "q42_stratified_sample" -> q(t => Curation.stratifiedSample(t.documents)),
    // The 8-gram decontam family serves from the warehouse shingle
    // index (doc-local derivation, oracle replays from docs)
    "q43_decontaminate"  -> ((s: SparkSession, d: String) =>
      Curation.decontaminateFrom(ComposedArtifacts.shingles8(s, d))),
    "q44_source_mix"     -> q(t => Curation.sourceMix(t.documents)),
    "q45_pack_bins"      -> q(t => Curation.packBins(t.documents)),
    // df cut tuned to the fixture like q27's threshold: the synthetic
    // corpus shares "rare" 8-grams pervasively (450/450 train docs
    // overlap eval at maxDf=100), so the composed pipeline uses the
    // strictest cut — shingles in ≤ 2 docs — which still flags 156
    // docs and leaves a non-trivial surviving corpus
    "q46_clean_corpus"   -> q(t => Curation.cleanCorpus(t.documents, maxDf = 2)),
    // Frequency/statistics layer over the token stream: vocabulary
    // (tokenizer-training input), word-frequency quality signal, and
    // the Gopher-style repetition rule's per-doc stats
    "q47_vocabulary"     -> q(t => TextAnalysis.vocabulary(t.documents)),
    "q48_unigram_lm"     -> q(t => TextAnalysis.unigramLmScore(t.documents)),
    // SemDeDup-style: cluster with the deterministic IVF k-means, pair
    // within cells; threshold matches q35 (fixture max cosine ~0.51)
    // serves the shared (vec_id, cell) assignment from the warehouse
    // (round-18 ANN serve wave)
    "q49_semantic_dups"  -> ((s: SparkSession, d: String) =>
      Similarity.semanticDupPairsFromCells(ComposedArtifacts.cells(s, d),
        Tables(s, d).embeddings)),
    "q50_repetition"     -> q(t => TextAnalysis.repetition(t.documents)),
    // Dup-pair → KEEP/DROP resolution: connected components over the
    // q26 minhash pair graph (min-label propagation; oracle = DuckDB
    // recursive-CTE transitive closure — an independent algorithm).
    // SERVED from the suite-shared pair artifact (round-18 verdict
    // #8): the pair-graph build is gated standalone by q26 and the
    // from-artifact path by this entry's oracle, so it — like every
    // pair consumer below — reads the warehouse store instead of
    // re-deriving the corpus-wide LSH pass per gate
    "q51_dup_clusters"   -> ((s: SparkSession, d: String) =>
      Dedup.componentsOf(ComposedArtifacts.pairs(s, d))),
    "q52_length_quantiles" -> q(t => Curation.lengthQuantiles(t.documents)),
    // As-of join via tagged-union window (oracle = native ASOF JOIN)
    "q53_asof_click"     -> q(t => Events.clickAttribution(t.events)),
    // Range join via epoch-bucket equi-join (oracle = plain BETWEEN)
    "q54_window_rollup"  -> q(t => Events.windowRollup(t.events)),
    "q55_chunks"         -> q(t => TextAnalysis.chunks(t.documents)),
    "q56_tfidf"          -> q(t => TextAnalysis.tfidfTopTerms(t.documents)),
    "q57_pii_redact"     -> q(t => TextAnalysis.piiRedact(t.documents)),
    // Passage-level dedup: chunk fingerprints shared across sites
    "q59_chunk_dups"     -> q(t => TextAnalysis.chunkDups(t.documents)),
    // Outlier report: decimal-exact moments -> bit-identical z-scores
    "q60_value_outliers" -> q(t => Events.valueOutliers(t.events)),
    // Multi-match interval self-join (RangeJoin keyed on user_id);
    // streaming twin = the stream-stream join in EventStreams
    "q61_recent_clicks"  -> q(t => Events.recentClickJoin(t.events)),
    // BM25 retrieval scoring against a fixed 3-term query
    "q62_bm25"           -> q(t =>
      TextAnalysis.bm25(t.documents, Seq("data", "query", "table"))),
    // Retention triangle: first-active-day cohorts × day offsets
    "q63_retention"      -> q(t => Events.retentionCohorts(t.events)),
    // First-order Markov transition counts over per-user streams
    "q65_transitions"    -> q(t => Events.typeTransitions(t.events)),
    // Ordered view->click->purchase funnel over gap sessions
    "q66_funnel"         -> q(t => Events.sessionFunnel(t.events)),
    // Decimal-exact fixed-width histogram of event values
    "q67_histogram"      -> q(t => Events.valueHistogram(t.events)),
    // Wide-format report: pivot hour-of-day x event type
    "q68_pivot"          -> q(t => Events.hourlyTypePivot(t.events)),
    // OLAP rollup with grouping ids over (source, lang)
    "q69_rollup"         -> q(t => Curation.corpusRollup(t.documents)),
    // CUBE lattice over (event_type, day)
    "q70_cube"           -> q(t => Events.typeDayCube(t.events)),
    // Sequence-aware LM signal over adjacent-token bigrams
    "q64_bigram_lm"      -> q(t => TextAnalysis.bigramLmScore(t.documents)),
    // Sketch profile, hash-gated on its DETERMINISTIC columns only:
    // the sketch outputs (HLL++ n_distinct_approx, quantile-sketch
    // percentiles) are engine-specific by construction, so they are
    // gated by PipelineOpsSpec's error bounds vs the exact operators
    // (q20/q52 semantics) while the exact census columns get the
    // full rows/schema/hash oracle here
    "q58_approx_profile" -> q(t => Curation.approxProfile(t.documents)
      .select("source", "n_docs", "n_tokens")),
    // §2.10 curve fit, oracle-gated: per-family min grid-SSE over the
    // q39 rank table (closed-form least-squares scale; log-rounded)
    "q71_dist_fit"       -> q(t =>
      DistributionFit.gridFitSse(
        DistributionFit.rankTable(StarQueries.q02ExplodeCount(t)))),
    // Dup-cluster KEEP/DROP resolution: hash-agg argmax winner per
    // component (longest doc, ties to the smallest doc_id); pair
    // graph from the warehouse artifact (q26 gates the build, this
    // entry the artifact path)
    "q72_cluster_keep"   -> ((s: SparkSession, d: String) =>
      Dedup.clusterKeepsFromPairs(
        ComposedArtifacts.pairs(s, d), Tables(s, d).documents)),
    // Temperature (α=0.5) source mixing: √count-proportional quotas
    // in pure BIGINT arithmetic over 1e6-quantized IEEE-sqrt weights
    "q73_temperature_mix" -> q(t => Curation.temperatureMix(t.documents)),
    // Per-class prototypicality (cosine to label centroid) — the
    // dataset-pruning score table
    "q74_prototypicality" -> q(t => Similarity.prototypicality(t.embeddings)),
    // Cross-source duplication matrix over the q26 near-dup pairs
    // (pair graph from the warehouse artifact)
    "q75_source_overlap" -> ((s: SparkSession, d: String) =>
      Dedup.sourceOverlapFromPairs(
        ComposedArtifacts.pairs(s, d), Tables(s, d).documents)),
    // Per-doc shared-shingle (boilerplate) fraction; 8-grams match
    // the decontamination shingle width, selective at corpus scale
    "q76_boilerplate"    -> ((s: SparkSession, d: String) =>
      Dedup.boilerplateFrom(ComposedArtifacts.shingles8(s, d))),
    // Gopher-style rule FLAGS (auditable per-rule booleans + keep)
    "q77_gopher_rules"   -> q(t => TextAnalysis.gopherRules(t.documents)),
    // DSIR importance weights: target = sources src0-src3
    "q78_dsir_weights"   -> q(t => Curation.dsirWeights(t.documents)),
    // Per-doc char entropy via the codegen'd CharEntropyExpression
    "q79_char_entropy"   -> q(t => TextAnalysis.charEntropy(t.documents)),
    // Corpus PMI collocations (top-50 pairs, min bigram count 5)
    "q80_pmi_pairs"      -> q(t => TextAnalysis.pmiPairs(t.documents)),
    // Rademacher JL projection: exact-integer reduced dims
    "q81_random_projection" -> q(t => Similarity.randomProjection(t.embeddings)),
    // ANN evaluation: LSH recall vs exact ground truth (q31 vs q30)
    "q82_ann_recall"     -> q(t => Similarity.annRecall(t.embeddings)),
    // IVF index-health: per-cell member count + corpus share
    "q83_cell_balance"   -> q(t => Similarity.cellBalance(t.embeddings)),
    // Data-card census: (split × source) rollup of docs/chars/tokens
    "q84_data_card"      -> q(t => Curation.dataCard(t.documents)),
    // Per-source token-spectrum fit: distribution-drift QA report
    "q85_source_fit"     -> q(t => DistributionFit.sourceFit(t.documents)),
    // Packing-efficiency report over the q45 bin assignment
    "q86_pack_stats"     -> q(t => Curation.packStats(t.documents)),
    // Dataset-version diff via ONE full outer join: two md5-bucket
    // snapshots of documents (old = buckets 0-8 as-is; new = buckets
    // 1-9 with bucket 5's text revised) → added/removed/changed/
    // unchanged per doc_id
    "q87_snapshot_diff"  -> q(t => {
      val bucket = Curation.hashBucket(col("doc_id"), 10)
      val fpOf = (text: org.apache.spark.sql.Column) =>
        md5(TextAnalysis.normText(text))
      Curation.snapshotDiff(
        t.documents.filter(bucket < 9)
          .select(col("doc_id"), fpOf(col("text")).as("fp")),
        t.documents.filter(bucket >= 1)
          .select(col("doc_id"),
            fpOf(when(bucket === 5, concat(col("text"), lit(" v2")))
              .otherwise(col("text"))).as("fp")))
    }),
    // Per-source adaptive quality gate: keep the top 90% of each
    // source by quality score (integer-exact rank·1000 ≤ 900·n cut)
    "q88_quality_gate"   -> q(t => Curation.qualityGate(t.documents)),
    // Dup-pair-graph degree histogram: near-dup partners per node →
    // node count per degree (graph health before clustering; pair
    // graph from the warehouse artifact)
    "q89_pair_degrees"   -> ((s: SparkSession, d: String) =>
      Dedup.pairDegreeHistogram(ComposedArtifacts.pairs(s, d))),
    // Pairwise cosine between per-label centroid embeddings
    // (corpus-geometry report; exact-integer centroid arithmetic)
    "q90_label_centroids" -> q(t => Similarity.labelCentroidSim(t.embeddings)),
    // DSIR selection step: keep iff md5-uniform u < exp(weight),
    // evaluated in log space with exact-integer milli-nat compare
    "q91_dsir_resample"  -> q(t => Curation.dsirResample(t.documents)),
    // Incremental batch-vs-index exact dedup: index = fingerprints of
    // md5-buckets 0-4; batch = buckets 3-9 as-is (3-4 hit the index)
    // plus re-crawled clones of bucket 6 under doc_id+1e6 (clone loses
    // the within-batch min → dup_in_batch; original stays new)
    "q92_incremental_dedup" -> q(t => {
      val bucket = Curation.hashBucket(col("doc_id"), 10)
      val fp = md5(TextAnalysis.normText(col("text"))).as("fp")
      Dedup.incrementalDedup(
        t.documents.filter(bucket <= 4).select(fp),
        t.documents.filter(bucket.between(3, 9))
          .select(col("doc_id"), fp)
          .unionAll(t.documents.filter(bucket === 6)
            .select((col("doc_id") + 1000000L).as("doc_id"), fp)))
    }),
    // Eval-side contamination fraction (q43's mirror report)
    "q93_contamination"  -> ((s: SparkSession, d: String) =>
      Curation.contaminationFractionFrom(ComposedArtifacts.shingles8(s, d))),
    // Verify-free MinHash similarity estimate over the LSH candidates
    "q94_est_jaccard"    -> q(t => Dedup.estimatedJaccardPairs(t.documents)),
    // Per-source unigram KL drift vs the corpus, integer micro-nats
    "q95_source_kl"      -> q(t => Curation.sourceKlDrift(t.documents)),
    // Incremental NEAR-dup detection: batch (md5-buckets 7-9) scored
    // against the signature index of admitted docs (buckets 0-6) via
    // band join + component agreement — no shingle sets retained
    "q96_incremental_neardups" -> q(t => {
      val bucket = Curation.hashBucket(col("doc_id"), 10)
      Dedup.incrementalNearDups(
        Dedup.minhashSignatures(t.documents.filter(bucket <= 6)),
        Dedup.minhashSignatures(t.documents.filter(bucket >= 7)))
    }),
    // Tokenizer-sizing curve: top-100 token types by count with exact
    // integer cumulative corpus coverage
    "q97_vocab_coverage" -> q(t => TextAnalysis.vocabCoverage(t.documents)),
    // Estimator-calibration report: per agreement count, the mean
    // EXACT Jaccard of the LSH candidates scoring there (scored
    // candidates + signature store from the warehouse 'pair' family)
    "q98_est_calibration" -> ((s: SparkSession, d: String) =>
      Dedup.estimatorCalibrationFromScored(
        ComposedArtifacts.scored(s, d), ComposedArtifacts.sigs(s, d))),
    // LSH banding design table: P(candidate | s) for the (k=16, b=4)
    // family, powers expanded to fixed-order products
    "q99_lsh_curve"      -> ((s, _) => Dedup.lshTuningCurve(s)),
    // Lexical mirror-site detector: pairwise source vocabulary
    // (token-TYPE set) Jaccard — type-level cost, sources²-bounded
    "q100_vocab_overlap" -> q(t => Dedup.sourceVocabOverlap(t.documents)),
    // Per-doc novelty: share of a doc's distinct 5-gram shingles
    // whose corpus-wide first occurrence (min doc_id) is this doc
    "q101_novelty"       -> q(t => Dedup.novelty(t.documents)),
    // Language-ID confusion matrix vs the gold labels — the eval
    // closing the loop on q22's heuristic; langs²-bounded
    "q102_langid_eval"   -> q(t => TextAnalysis.langIdEval(t.documents)),
    // Per-source predicted-language mix: the quota-driving report
    // (sources × langs)-bounded, totals derived, broadcast join back
    "q103_source_lang_mix" -> q(t => TextAnalysis.sourceLangMix(t.documents)),
    // Shuffle-key skew diagnostic: top-20 heaviest user_ids with
    // exact micro shares — read before choosing salt/broadcast/AQE
    "q104_key_skew"      -> q(t =>
      SkewJoin.keySkewProfile(t.events, "user_id")),
    // ANN preflight: per-dim vector census with zero/non-finite
    // counts and quantized-norm extrema; dims-bounded aggregate
    "q105_vector_health" -> q(t => Similarity.vectorHealth(t.embeddings)),
    // Embedding-space decontamination: train vectors near eval
    // vectors (broadcast eval side, one train scan, no shuffle)
    "q106_semantic_decontam" -> q(t =>
      Similarity.semanticDecontaminate(t.embeddings)),
    // Its LSH-bucketed scale path: bucket-join candidates only,
    // capped buckets — the shape that survives a billion-vec corpus
    "q107_semantic_decontam_lsh" -> q(t =>
      Similarity.semanticDecontaminateLsh(t.embeddings)),
    // Byte-identical media dedup BEFORE decode: fingerprints shuffle,
    // media bytes never move
    "q108_media_dedup"   -> q(t =>
      Multimodal.exactMediaDuplicates(
        Multimodal.synthesizeFromDocuments(t.documents))),
    // Frame-level exact dedup over REAL container frames: the header
    // walk locates each frame, the codec decodes it, and the
    // fingerprint is the decoded pixel stream — repeated intro/logo
    // frames across titles collapse even under byte-different
    // encodings; pixels never shuffle
    "q109_frame_dedup"   -> q(t =>
      Multimodal.videoFrameDuplicates(
        Multimodal.synthesizeMediaFiles(t.documents))),
    // ... and the codec-INDEPENDENT fallback for formats without a
    // container walk: exact dedup over fixed-256-byte chunks of the
    // raw payload (hex-string md5, bytes stay put)
    "q235_chunk_frame_dedup" -> q(t =>
      Multimodal.chunkFrameDuplicates(
        Multimodal.synthesizeFromDocuments(t.documents))),
    // Perceptual image hashing (dHash over decoded pixels): 64-bit
    // integer difference hash per image, banded near-dup pairs over
    // the store PLUS planted 2x nearest-neighbor upscales (id +
    // 10^7) — the re-encoded/resized near-dups exact byte dedup
    // misses; pigeonhole-complete at hamming <= 3, hot buckets
    // capped (cap mirrored in the oracle)
    "q236_image_dhash" -> q(t =>
      Multimodal.imageDHashes(Multimodal.synthesizeMediaFiles(t.documents))),
    "q237_image_neardups" -> q { t =>
      val spark = t.spark
      import spark.implicits._
      // upscale-copy id offset DERIVED from the data (max id + 1, a
      // bounded one-scalar aggregate) instead of the former fixed
      // 10^7, which silently collided once ids outgrew it (round-17
      // ADVICE); the oracle computes the same MAX(doc_id) + 1
      val off = t.documents.agg(org.apache.spark.sql.functions
        .max(col("doc_id"))).head.getLong(0) + 1L
      val media = Multimodal.synthesizeMediaFiles(t.documents)
      val up = Multimodal.upscale(media.filter(_.modality == "image"), 2)
        .map(r => r.copy(media_id = r.media_id + off))
      Multimodal.imageNearDuplicates(
        Multimodal.imageDHashes(media.union(up)))
    },
    // The perceptual family at FRAME granularity: every container
    // frame is a complete BMP, so the image machinery applies as-is —
    // per-frame dHash (q244, frame id = media_id·1000 + frame_no) and
    // banded near-dup pairs over frames + their 2x upscaled
    // re-encodes (q245) — fade/re-encode intro detection, the case
    // exact frame dedup (q109) misses
    "q244_frame_dhash" -> q(t =>
      Multimodal.imageDHashes(Multimodal.videoFramesAsImages(
        Multimodal.synthesizeMediaFiles(t.documents)))),
    "q245_frame_neardups" -> q { t =>
      val spark = t.spark
      import spark.implicits._
      // frame ids reach max(doc_id)·1000 + nf−1, so the upscale-copy
      // offset is (max id + 1)·1000 — data-derived like q237's
      val off = (t.documents.agg(org.apache.spark.sql.functions
        .max(col("doc_id"))).head.getLong(0) + 1L) * 1000L
      val frames = Multimodal.videoFramesAsImages(
        Multimodal.synthesizeMediaFiles(t.documents))
      val up = Multimodal.upscale(frames, 2)
        .map(r => r.copy(media_id = r.media_id + off))
      Multimodal.imageNearDuplicates(
        Multimodal.imageDHashes(frames.union(up)))
    },
    // Perceptual AUDIO hashing (the q236 dHash discipline on PCM):
    // 65 grid-sampled 4-point window energies -> 64 sign bits per
    // clip (q246), and banded near-dup pairs over the store PLUS
    // planted 2x-rate nearest-neighbor resamples (real decode ->
    // resample -> re-encode round trips, id + max+1) — the
    // re-encoded near-dups exact byte dedup misses; grid sampling is
    // provably invariant under the integer-factor upsample (the
    // double-floor lemma), pigeonhole-complete at hamming <= 3, hot
    // buckets capped (q247)
    "q246_audio_ahash" -> q(t =>
      Multimodal.audioEnergyHashes(
        Multimodal.synthesizeMediaFiles(t.documents))),
    "q247_audio_neardups" -> q { t =>
      val spark = t.spark
      import spark.implicits._
      val off = t.documents.agg(org.apache.spark.sql.functions
        .max(col("doc_id"))).head.getLong(0) + 1L
      val media = Multimodal.synthesizeMediaFiles(t.documents)
      val res = Multimodal.resampleWav(
          media.filter(_.modality == "audio"), 32000)
        .map(r => r.copy(media_id = r.media_id + off))
      Multimodal.audioNearDuplicates(
        Multimodal.audioEnergyHashes(media.union(res)))
    },
    // The span-group HOT-GROUP path under the oracle (round-17
    // verdict #2): ONE span planted 10,000 times (synthesized
    // boilerplate docs, the license-header case) delivered into a
    // small base — the touched-group recompute routes through the
    // bounded-slice refinement (default hotThreshold 1024) and must
    // equal the collision-free suffix-CTE rebuild of the grown corpus
    "q248_suffix_hot_fold" -> ((s: SparkSession, d: String) => {
      import graft.operators.SuffixArray
      val docs = Tables(s, d).documents
      val base = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
      val planted = s.range(1, 10001)
        .select((col("id") + 90000000L).as("doc_id"),
          concat(lit("hb0 hb1 hb2 hb3 hb4 hb5 tail"), col("id"))
            .as("text"))
      val corpus = base.unionByName(planted)
      // the base store + maintained pairs are the persisted
      // warehouse "before" state (hot_base_* artifacts, built once
      // per corpus version like sg_base_* for q241) — the entry
      // times what a production fold pays: ingesting the hot
      // delivery and folding it against the persisted artifacts
      val folded = ComposedArtifacts.hotBaseStore(s, d)
        .unionByName(SuffixArray.spanGroupStore(planted))
      SuffixArray.repeatedSpansFold(ComposedArtifacts.hotBasePairs(s, d),
          folded, planted, corpus)
        .select(col("doc1"), col("pos1"), col("doc2"), col("pos2"),
          col("lcp"))
    }),
    // Two-phase salted aggregation over the documents source key: the
    // skew MITIGATION held to the same oracle standard as the q104
    // profiler — partial count on (source, salt), merged partials
    // must equal the direct groupBy exactly
    "q110_salted_agg"    -> q(t =>
      SkewJoin.saltedAgg(t.documents.select(col("source")),
        Seq("source"), salt = 8)(
        _.agg(org.apache.spark.sql.functions.count(lit(1)).as("pn")),
        _.agg(org.apache.spark.sql.functions.sum(col("pn")).cast("long")
          .as("n_docs")))
        .orderBy("source")),
    // Token-window substring dedup (Lee et al. 2022 shape): per-doc
    // merged-interval coverage of 8-token spans repeated anywhere in
    // the corpus — the dup_fraction a curation pipeline thresholds on
    "q111_dup_spans"     -> q(t => SubstringDedup.dupSpanStats(t.documents)),
    // Memorization audit: top-20 most-repeated 8-token spans with
    // occurrence/document counts (fingerprint-grouped, span text
    // min-combined map-side)
    "q112_top_spans"     -> q(t => SubstringDedup.topDuplicatedSpans(t.documents)),
    // Bloom-filter span decontamination, relational form: identical
    // md5-derived bit arithmetic in both engines, so the oracle
    // reproduces the hit set false-positives-and-all; the broadcast
    // byte-array production path is spec-pinned equal
    "q113_bloom_decontam" -> q(t =>
      BloomDecontam.decontaminateRelational(t.documents)),
    // Composed span-family curation: train docs long enough to window,
    // ≤ half their tokens in corpus-duplicated spans, and clean under
    // the bloom decontaminator — one persisted window table, id-only
    // semi/anti joins
    "q114_span_clean"    -> q(t => Curation.spanCleanCorpus(t.documents)),
    // Bloom estimator-vs-exact calibration (the q98 methodology):
    // measured false-positive share vs the sizing rule
    "q115_bloom_calibration" -> q(t => BloomDecontam.calibration(t.documents)),
    // Per-source span-duplication profile: which crawl is most
    // duplicated, by corpus-level duplicated-token share
    "q116_source_span_profile" -> q(t =>
      SubstringDedup.sourceSpanProfile(t.documents)),
    // Product quantization (Jégou et al. 2011): deterministic
    // per-subspace k-means codebooks, every vector → m codewords with
    // exact integer squared-L2 quantization error
    "q117_pq_encode"     -> q(t => Similarity.pqEncode(t.embeddings)),
    // ADC top-k over the PQ codes: queries keep exact subvectors,
    // corpus vectors are scored as m LUT entries
    // serves the persisted code table + codebook from the warehouse
    // 'ann' family; q117 above keeps the standalone training gated
    // and Bench's ann_build leg prices the build
    "q118_pq_ann"        -> ((s: SparkSession, d: String) =>
      Similarity.pqAdcFromCodes(ComposedArtifacts.pqCodes(s, d),
        ComposedArtifacts.pqCodebook(s, d), Tables(s, d).embeddings)),
    // Compressed-index recall vs the brute-force ground truth — the
    // q82 evaluation protocol applied to the PQ index; the ADC side
    // serves from the warehouse artifacts, the exact ground-truth
    // pass stays in-entry (it IS the baseline being measured)
    "q119_pq_recall"     -> ((s: SparkSession, d: String) =>
      Similarity.pqRecallFrom(ComposedArtifacts.pqCodes(s, d),
        ComposedArtifacts.pqCodebook(s, d), Tables(s, d).embeddings)),
    // Z-order (Morton) clustering key over the lineitem 2-D access
    // pattern — the layout index writeZordered sorts 100 TB fact
    // tables by (LayoutSpec pins the file-range pruning property)
    "q120_zorder"        -> q(t => t.lineitem.select(col("l_orderkey"),
      col("l_partkey"), graft.engine.Layout.zorderKey(
        col("l_orderkey"), col("l_partkey"), bits = 20).as("zkey"))),
    // IVF-PQ composition (the FAISS index shape): IVF prunes the
    // candidates, PQ codes + broadcast LUT score them — both
    // trainings replayed bit-for-bit by the oracle
    // serves all four persisted artifacts (centroids, cells,
    // codebook, codes) — the FAISS "load index, search" path; both
    // trainings stay replayed bit-for-bit by the oracle, so the
    // round trip is gated end to end
    "q122_ivfpq_ann"     -> ((s: SparkSession, d: String) =>
      Similarity.ivfPqTopKFrom(ComposedArtifacts.ivfCentroids(s, d),
        ComposedArtifacts.ivfCells(s, d),
        ComposedArtifacts.pqCodebook(s, d),
        ComposedArtifacts.pqCodes(s, d), Tables(s, d).embeddings)),
    // Embedding drift between snapshots (old = even vec_id, new = odd
    // — the snapshot-pair stand-in): per-label centroid cos shift +
    // norm ratio, the encoder-regression preflight
    "q123_embedding_drift" -> q(t => Similarity.embeddingDrift(
      t.embeddings.filter(col("vec_id") % 2 === 0),
      t.embeddings.filter(col("vec_id") % 2 === 1))),
    // BPE merge training (Sennrich et al. 2016): 6 greedy merges over
    // the word-frequency table, whole training replayed by the oracle
    // serves the trained merge table from the warehouse 'tok'
    // family (built once per corpus version; Bench's tok_build leg
    // prices it) — the oracle replays the WHOLE
    // training in SQL, so the artifact round trip stays gated; the
    // in-entry training form stays pinned by BpeSpec
    "q124_bpe_merges"    -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.bpeMerges(s, d)),
    // Unigram-LM (SentencePiece) tokenizer trainer — the EM
    // alternative to BPE: seed substring vocab (q224), 2 hard-EM
    // rounds + prune + final E-step (q225, the oracle replays the
    // whole training bit-for-bit incl. every Viterbi), and the
    // corpus priced in unigram subwords (q226)
    // EXACT substring dedup via a distributed suffix array (Lee et
    // al.'s exact method — the exactness completion of the fixed-k
    // window family): maximal repeated spans of ANY length >= 5
    // (q230), the per-doc exact-duplication profile (q231), and the
    // full suffix + LCP arrays pinned bit-for-bit (q232). The
    // entries read the suite-shared SA+LCP ARTIFACT (built once per
    // corpus version in the ComposedArtifacts warehouse — the
    // production path; round-17 verdict #8) and the oracle hash
    // gates the artifact round-trip end to end; the in-entry build
    // form stays gated by SuffixArraySpec's differential specs
    "q230_suffix_repeats" -> ((s: SparkSession, d: String) =>
      graft.operators.SuffixArray.repeatedSpansFromLcp(
        ComposedArtifacts.saLcp(s, d))),
    "q231_doc_repeats"   -> ((s: SparkSession, d: String) =>
      graft.operators.SuffixArray.docRepeatProfileFromLcp(
        ComposedArtifacts.saLcp(s, d))),
    "q232_suffix_array"  -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.saLcp(s, d)),
    // INCREMENTAL maintenance for the suffix-repeat family (the one
    // store that was still rebuild-only): the ≥-minLen repeat pairs
    // decompose exactly by their shared first-5-token group, so the
    // store is doc-local (fp, doc_id, pos) rows, a delivery dirties
    // only the groups it touches, and fold == rebuild is gated by
    // q230's collision-free suffix-CTE oracle. q241 folds the
    // bucket-3 docs into a store built without them; q242 retracts a
    // 1-in-7 takedown from the full store (gated over the survivors);
    // q243 rebuilds q231's per-doc profile from the group stores —
    // no arrays, no doubling, q231's oracle verbatim
    // q241/q242 price ONE delivery fold / ONE takedown against the
    // PERSISTED span-group store + pair artifacts (the warehouse
    // "before" state — base = hash-bucket 3 of 10 held out, full =
    // everything), exactly how a production warehouse runs them. The
    // former in-entry store builds (localCheckpoint'd) were measured
    // to pressure UNRELATED queries later in the suite (q72, the
    // round-17 flagged regression: 8.4 s solo vs 10.4-11.6 s when run
    // after these entries in one JVM)
    "q241_suffix_fold" -> ((s: SparkSession, d: String) => {
      import graft.operators.SuffixArray
      val docs = Tables(s, d).documents
      val delivery = docs.filter(Curation.hashBucket(col("doc_id"), 10) === 3)
      val folded = ComposedArtifacts.sgBaseStore(s, d)
        .unionByName(SuffixArray.spanGroupStore(delivery))
      SuffixArray.repeatedSpansFold(ComposedArtifacts.sgBasePairs(s, d),
          folded, delivery, docs)
        .select(col("doc1"), col("pos1"), col("doc2"), col("pos2"),
          col("lcp"))
    }),
    "q242_suffix_retract" -> ((s: SparkSession, d: String) => {
      import graft.operators.SuffixArray
      val docs = Tables(s, d).documents
      val rm = col("doc_id") % 7 === 3
      val removed = docs.filter(rm)
      val survivingStore = ComposedArtifacts.sgFullStore(s, d).join(
        removed.select(col("doc_id")), Seq("doc_id"), "left_anti")
      SuffixArray.repeatedSpansRetract(ComposedArtifacts.sgFullPairs(s, d),
          survivingStore, removed, docs.filter(!rm))
        .select(col("doc1"), col("pos1"), col("doc2"), col("pos2"),
          col("lcp"))
    }),
    // the per-doc profile ENTIRELY from maintained artifacts — zero
    // corpus scans (round-17 verdict #5): n_tokens off the k=1
    // window store, short-k side off the k=2..4 stores, >=minLen
    // side off the maintained pair table; q231's oracle verbatim
    "q243_suffix_doc_profile" -> ((s: SparkSession, d: String) =>
      graft.operators.SuffixArray.docRepeatProfileFromArtifacts(
        ComposedArtifacts.sgFullStore(s, d),
        ComposedArtifacts.sgFullPairs(s, d),
        (1L to 4L).map(k => k -> ComposedArtifacts.winK(s, d, k.toInt)))),
    "q224_unigram_seed"  -> q(t =>
      Unigram.seedPieces(Unigram.wordTable(t.documents))),
    "q225_unigram_train" -> q(t => Unigram.unigramTrain(t.documents)),
    "q226_unigram_tokenize" -> q(t =>
      Unigram.tokenizeCorpus(t.documents,
        Unigram.unigramTrain(t.documents))),
    // BPE apply: the vocabulary segmented under the 6 trained merges,
    // in exploded (word, n, pos, sym) form — train AND apply gated
    // the segmented vocabulary IS the warehouse artifact (trained +
    // replayed once per corpus version); the oracle replays training
    // AND segmentation in SQL, gating the round trip
    "q125_bpe_segment"   -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.bpeVocab(s, d)),
    // Count-min sketch heavy hitters: exact top-50 tokens next to
    // their estimates from the depth=4 x width=1024 mergeable sketch
    // (est >= exact always; the constant-size per-shard profile)
    "q127_cms_heavy"     -> q(t => Sketches.cmsHeavyHitters(t.documents)),
    // Exact-integer PageRank over the q26 dup-pair graph (3 fixed
    // iterations, damping 85/100 in micro units): the centrality read
    // for picking a cluster's canonical document
    "q128_pagerank"      -> ((s: SparkSession, d: String) =>
      Dedup.pairPageRank(ComposedArtifacts.pairs(s, d))),
    // Weighted sampling without replacement (Efraimidis–Spirakis):
    // top-100 by the exact-integer log-space A-ES key, weight = token
    // count — reservoir sampling as one distributed TakeOrdered
    "q129_weighted_sample" -> q(t => Curation.weightedSample(t.documents)),
    // Inverted-index build: per token, df/tf and the md5 fingerprint
    // of the full ascending posting list (the bm25 serving artifact)
    "q130_inverted_index" -> q(t => TextAnalysis.invertedIndex(t.documents)),
    // Conjunctive boolean retrieval: docs containing ALL of the q62
    // query terms, via posting-list intersection
    "q131_search_and"    -> q(t =>
      TextAnalysis.searchAnd(t.documents, Seq("data", "query", "table"))),
    // The span-dedup REWRITE (Lee et al. cut the repeated spans, not
    // just measure them): duplicated 8-token windows removed from
    // every document, survivors reassembled — clean_text hash-gated
    "q132_span_rewrite"  -> q(t => SubstringDedup.removeSpans(t.documents)),
    // q72's keep-election with the winner chosen by PageRank
    // centrality instead of text length: components + q128's ranks off
    // one materialized pair table, canonical = highest-rank node
    "q133_canonical_rank" -> ((s: SparkSession, d: String) =>
      Dedup.canonicalByRank(ComposedArtifacts.pairs(s, d))),
    // Rolling-hash span dedup (scale path of q111's window aggregate):
    // the contract row is the fingerprint-AGNOSTIC (n_occ, n_docs)
    // histogram, so the FNV rolling path hash-gates against the md5
    // oracle; per-window equality is additionally spec-pinned
    "q135_rolling_span_profile" -> q(t =>
      SubstringDedup.dupWindowProfileRolling(t.documents)),
    // Greedy token-budget trim: highest quality first until the
    // 10k-token budget fills; two-phase (quality-level histogram,
    // boundary-level doc cumsum) -- no corpus-wide window
    "q145_token_budget"  -> q(t => Curation.tokenBudgetTrim(t.documents)),
    // Rolling actives: exact DAU/WAU per day via a broadcast day
    // spine range join over the (user, day) activity table
    "q152_rolling_actives" -> q(t => Events.rollingActives(t.events)),
    // Deterministic epoch shuffle + loader-shard assignment: the
    // data-loader handoff — reproducible per-epoch order, shard-local
    // ranks (never a global sort)
    "q153_epoch_shuffle" -> q(t =>
      Curation.epochShuffle(t.documents, epoch = 3)),
    // Coarse-probe design curve: two-level vs flat agreement per
    // probe count — the knob evidence behind the family's probe=2
    // default (q99's banding-curve idea for the ANN approximation)
    // the centroid table serves from the warehouse (same derivation
    // as in-call training); the flat baseline + probe legs still
    // scan the corpus — they ARE the measurement
    "q155_probe_curve" -> ((s: SparkSession, d: String) =>
      Similarity.coarseProbeCurveFrom(ComposedArtifacts.ivfCentroids(s, d),
        Tables(s, d).embeddings)),
    // Per-shard integrity manifest over the hash-split corpus: doc
    // count, exact token count, and the doc-id-ordered content md5
    // per split — the reproducibility receipt stored with the shards
    "q160_shard_manifest" -> q(t =>
      Curation.shardManifest(t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id")))),
    // Manifest diff: the rerun report off two q160 receipts — bucket-3
    // docs' text perturbed, so splits holding any flip to 'changed'
    // with exact doc/token deltas
    "q163_manifest_diff" -> q(t => {
      val withSplit = t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id"))
      val perturbed = withSplit.withColumn("text",
        when(Curation.hashBucket(col("doc_id"), 10) === 3,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Curation.manifestDiff(
        Curation.shardManifest(withSplit),
        Curation.shardManifest(perturbed))
    }),
    // Hierarchical (sub-sharded) manifest: q160's receipt built in
    // two bounded fold stages — the 10M-doc-shard scale path
    "q162_manifest_hier" -> q(t =>
      Curation.shardManifest(t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id")), subShards = 4)),
    // Nearest-centroid classifier over embeddings: per-label
    // centroids trained on md5 buckets 0-7, every vector assigned its
    // most-cosine-similar centroid (q156's embedding-space twin)
    "q158_centroid_classifier" -> q(t =>
      Similarity.centroidClassifier(t.embeddings)),
    // Held-out confusion matrix for q158 (buckets 8-9)
    "q159_centroid_eval" -> q(t =>
      Similarity.centroidClassifierEval(t.embeddings)),
    // Source-supervised NB quality classifier: train src0-2 (class 1)
    // vs src3-5 (class 0), score the WHOLE corpus with integer
    // micro-nat log-likelihood ratios (the CCNet-style wiki-vs-crawl
    // filter, relationally)
    // serves the persisted LM + constants from the warehouse 'ann'
    // family; Bench's ann_build leg prices the training (pos/neg
    // source lists pinned by the oracle literals)
    "q156_nb_classifier" -> ((s: SparkSession, d: String) =>
      TextAnalysis.nbScoreFrom(ComposedArtifacts.nbLm(s, d),
        ComposedArtifacts.nbConsts(s, d), Tables(s, d).documents)),
    // Discriminative twin of the NB family: logistic regression by
    // aggregation-only gradient steps (q227 weights, q228 held-out
    // scores, q229 the q214-protocol reliability table) — the oracle
    // replays all Logistic.Steps gradient steps bit-for-bit
    // The LR family SERVES from the warehouse "lr" artifacts (round
    // 18): training (32 sequential driver rounds — the suite's most
    // scheduler-latency-exposed stage) runs once per corpus version
    // in the family build, and every oracle below REPLAYS training
    // from scratch in SQL, so the hash gate still proves the full
    // train-then-serve pipeline bit for bit
    "q227_lr_weights" -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.lrWeights(s, d).orderBy(col("j"))),
    "q228_lr_scores" -> ((s: SparkSession, d: String) =>
      Logistic.scoresFromWeights(
        ComposedArtifacts.lrFeats(s, d), ComposedArtifacts.lrWeights(s, d))),
    "q229_lr_reliability" -> ((s: SparkSession, d: String) =>
      Logistic.reliabilityFromWeights(
        ComposedArtifacts.lrFeats(s, d), ComposedArtifacts.lrWeights(s, d))),
    // The EXTENDED vector — the engine's own signals as features
    // (bigram-LM perplexity, gopher passes, dup-span percent, all
    // integers on the shared <= 100 scale): the classifier a real
    // curation pipeline trains; LogisticSpec pins its held-out
    // accuracy win over the surface-only vector
    "q238_lrx_weights" -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.lrxWeights(s, d).orderBy(col("j"))),
    "q239_lrx_scores" -> ((s: SparkSession, d: String) =>
      Logistic.scoresFromWeights(
        ComposedArtifacts.lrxFeats(s, d),
        ComposedArtifacts.lrxWeights(s, d))),
    "q240_lrx_reliability" -> ((s: SparkSession, d: String) =>
      Logistic.reliabilityFromWeights(
        ComposedArtifacts.lrxFeats(s, d),
        ComposedArtifacts.lrxWeights(s, d))),
    // Held-out confusion matrix for q156's classifier: train on md5
    // buckets 0-7 of the labeled slice, predict buckets 8-9
    "q157_nb_eval" -> q(t =>
      TextAnalysis.nbClassifierEval(t.documents,
        posSources = Seq("src0", "src1", "src2"),
        negSources = Seq("src3", "src4", "src5"))),
    // Incremental NB training: even docs = accumulated count
    // artifacts, odd docs folded in via nbCountsUpdate, the whole
    // corpus scored off the folded model — the batch q156 SQL is the
    // exact oracle (counts are additive)
    "q161_nb_incremental" -> q(t => {
      val (pos, neg) =
        (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
      val (vt0, dc0) = TextAnalysis.nbCounts(
        t.documents.filter(col("doc_id") % 2 === 0), pos, neg)
      val (vt, dc) = TextAnalysis.nbCountsUpdate(vt0, dc0,
        t.documents.filter(col("doc_id") % 2 === 1), pos, neg)
      val (lm, consts) = TextAnalysis.nbLmFromCounts(vt, dc)
      TextAnalysis.nbScoreFrom(lm, consts, t.documents)
    }),
    // Incremental span dedup (q92's span-level sibling): even docs =
    // the accumulated window index, odd docs = the new delivery; a
    // batch window is duplicated when index+batch occurrences >= 2
    "q154_incremental_spans" -> q(t => {
      val idx = SubstringDedup.windowIndex(
        t.documents.filter(col("doc_id") % 2 === 0))
      SubstringDedup.incrementalSpanStats(idx,
        t.documents.filter(col("doc_id") % 2 === 1))
    }),
    // TAKEDOWN of the window index (q154's inverse): the odd docs are
    // retracted from the FULL-corpus index, then probed back against
    // it — since retract == from-scratch-over-evens exactly, the
    // probe reproduces q154's rows and its SQL is the verbatim
    // oracle; a hash match proves the retraction left the surviving
    // counts bit-identical (no residue, no over-removal)
    "q182_span_retract" -> q(t => {
      val odd = t.documents.filter(col("doc_id") % 2 === 1)
      val idx = SubstringDedup.retractedWindowIndex(
        SubstringDedup.windowIndex(t.documents), odd)
      SubstringDedup.incrementalSpanStats(idx, odd)
    }),
    // TAKEDOWN of the NB quality model: odd labeled docs retracted
    // from the full-corpus count artifacts, the serve model derived
    // from the retracted counts, the whole corpus re-scored — the
    // oracle trains on the even slice from scratch, so a hash match
    // proves counts fold DOWN as exactly as they fold up
    "q183_nb_retract" -> q(t => {
      val (pos, neg) =
        (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
      val (vtAll, dcAll) = TextAnalysis.nbCounts(t.documents, pos, neg)
      val (vt, dc) = TextAnalysis.nbCountsRetract(vtAll, dcAll,
        t.documents.filter(col("doc_id") % 2 === 1), pos, neg)
      val (lm, consts) = TextAnalysis.nbLmFromCounts(vt, dc)
      TextAnalysis.nbScoreFrom(lm, consts, t.documents)
    }),
    // Median/MAD robust outliers: the skew-proof sibling of q60,
    // exact-integer end to end (cents + run-length medians)
    "q144_robust_outliers" -> q(t => Events.robustOutliers(t.events)),
    // Multi-benchmark contamination matrix: q43 generalized to a
    // benchmark suite ((doc_id div 10) parity stands in for the
    // manifest); per benchmark, contaminated train docs + match rows
    "q143_bench_contamination" -> ((s: SparkSession, d: String) =>
      Curation.contaminationByBenchmarkFrom(
        ComposedArtifacts.shingles8(s, d))),
    // Per-source PII governance report over q57's counts
    "q142_pii_report"    -> q(t => TextAnalysis.piiReport(t.documents)),
    // Two-level coarse-quantizer assignment: the FAISS shape answering
    // the rehearsal-measured N*cells flat-assignment bottleneck
    "q148_two_level_assign" -> q(t => Similarity.twoLevelAssign(t.embeddings)),
    // kNN label-noise audit: per vector, the disagreement rate of its
    // 5 nearest same-cell neighbors' labels (mislabel detector)
    // served off the persisted cell assignment (round-18 ANN serve
    // wave)
    "q146_label_noise"   -> ((s: SparkSession, d: String) =>
      Similarity.labelNoiseFromCells(ComposedArtifacts.cells(s, d),
        Tables(s, d).embeddings)),
    // Hard-negative mining: per anchor, the 5 most-similar same-cell
    // vectors still under the q49 positive threshold — the
    // contrastive-training complement of semanticDupPairs; served
    // off the persisted cell assignment
    "q141_hard_negatives" -> ((s: SparkSession, d: String) =>
      Similarity.hardNegativesFromCells(ComposedArtifacts.cells(s, d),
        Tables(s, d).embeddings)),
    // Directed cross-source containment matrix: which crawl QUOTES
    // which (the directed sibling of q75's symmetric overlap;
    // containment pairs from the warehouse artifact — q140 gates the
    // build)
    "q147_source_containment" -> ((s: SparkSession, d: String) =>
      Dedup.sourceContainmentMatrixFromPairs(
        ComposedArtifacts.contPairs(s, d), Tables(s, d).documents)),
    // Asymmetric containment dedup: |A∩B|/min(|A|,|B|) catches the
    // excerpt/quote shape symmetric Jaccard is blind to
    "q140_containment"   -> q(t => Dedup.ngramContainmentPairs(t.documents)),
    // Conjunctive search ranked by impacts: AND semantics (q131) +
    // relevance order (q149) in one index probe
    "q150_ranked_search" -> q(t =>
      TextAnalysis.rankedSearchAnd(t.documents, Seq("data", "query", "table"))),
    // BM25 impact index: per-(token, doc) micro score contributions
    // for the WHOLE vocabulary -- the serve-time artifact behind
    // q139 and the streaming query-scoring twin
    "q149_bm25_impacts"  -> q(t => TextAnalysis.bm25TermTable(t.documents)),
    // Batch BM25: a 3-query table scored in ONE corpus pass, top-10
    // docs per query; per-term micro-integer scores → order-free sums
    "q139_bm25_batch"    -> q { t =>
      val spark = t.spark
      import spark.implicits._
      val queries = Seq(
        (0L, "data"), (0L, "query"),
        (1L, "table"), (1L, "scan"),
        (2L, "stream"), (2L, "window"), (2L, "fast"))
        .toDF("query_id", "token")
      TextAnalysis.bm25Batch(t.documents, queries)
    },
    // Lee et al.'s keep-one-copy span rewrite: per repeated span the
    // globally-first occurrence survives, every other copy is cut
    "q138_span_keep_one" -> q(t =>
      SubstringDedup.removeSpansKeepOne(t.documents)),
    // Per-source A-ES reservoirs: 20 weighted picks from EVERY crawl
    // (the quota-preserving sibling of q129's global sample)
    "q136_weighted_per_source" -> q(t =>
      Curation.weightedSamplePerSource(t.documents)),
    // Held-out cross-entropy under the train-split unigram LM
    // (add-1 smoothed, exact-integer micro-nats) -- the LM-metric
    // twin of the OOV report
    "q151_cross_entropy" -> q(t => TextAnalysis.crossEntropy(t.documents)),
    // OOV rate of the held-out split (md5 buckets 8-9) against the
    // training split's vocabulary — the pre-ship tokenizer/vocab read
    "q137_oov_report"    -> q(t => TextAnalysis.oovReport(t.documents)),
    // The tokenizer story closed end-to-end: train (q124) → segment
    // the vocab (q125) → price the corpus in subwords per doc
    // the per-word subword counts derive from the warehouse vocab
    // artifact (one vocab-sized aggregate); only the corpus pricing
    // pass (tokens ⋈ broadcast vocab) runs in-entry
    "q134_bpe_tokenize"  -> ((s: SparkSession, d: String) =>
      Bpe.tokenizeCorpusFromVocab(ComposedArtifacts.bpeVocab(s, d),
        Tables(s, d).documents)),
    // SCD Type-2 dimension history from a 3-snapshot series (the
    // n-snapshot generalization of q87): validity intervals per key
    // with revision, late arrival, deletion, and reappearance all
    // exercised by the md5-bucket perturbations of snapshotSeries
    "q126_scd2"          -> q(t =>
      Curation.scd2(Curation.snapshotSeries(t.documents))),
    // JSONL edge round-trip: documents → JSON lines → schema'd read —
    // hash-gated against the parquet original, so escaping/unicode/
    // type fidelity of the interchange format is proven, not assumed
    "q121_jsonl_roundtrip" -> q { t =>
      import graft.sources.JsonLines
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_jsonl_q121_${t.dir.hashCode.toHexString}").toString
      JsonLines.write(t.documents, tmp)
      JsonLines.read(t.spark, tmp, t.documents.schema)
    },
    // Calibrated composite keep/drop gate: NB LLR (per-source
    // adaptive cut, q88's rank rule) + gopher flags (q77) + entropy
    // band (q79) folded into ONE decision column with per-rule
    // attribution booleans — the FineWeb-style filter stack. The
    // cut/band arguments are passed EXPLICITLY because the oracle SQL
    // hard-codes the same literals (900 permille, 3900-4500 milli) —
    // a silent default change must not be able to drift them apart
    "q164_composite_gate" -> q(t => Curation.compositeGate(t.documents,
      keepPermille = 900, minEntropyMilli = 3900L,
      maxEntropyMilli = 4500L)),
    // Incremental hierarchical manifest: even docs = the persisted
    // unit store + sub-manifest, odd docs folded in via
    // updatedSubManifest (ONLY the touched cells recompute) — the
    // batch q162 SQL is the exact oracle (receipts are deterministic
    // functions of membership, so fold == from-scratch is the gate)
    "q178_incremental_manifest" -> q(t => {
      val withSplit = t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id"))
      val store = Curation.manifestUnits(
        withSplit.filter(col("doc_id") % 2 === 0), subShards = 4)
      val sub0 = Curation.subManifestFromUnits(store)
      val batch = Curation.manifestUnits(
        withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
      Curation.manifestFromSub(
        Curation.updatedSubManifest(sub0, store, batch))
    }),
    // TAKEDOWN of the integrity receipts (q178's inverse): odd docs
    // retracted from the FULL-corpus unit store + sub-manifest —
    // only the touched cells recompute from surviving members — and
    // the receipt must equal the batch hierarchical manifest over
    // the even slice (the oracle), proving the takedown left exactly
    // the surviving membership behind
    "q184_manifest_retract" -> q(t => {
      val withSplit = t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id"))
      val store = Curation.manifestUnits(withSplit, subShards = 4)
      val sub0 = Curation.subManifestFromUnits(store)
      val removed = Curation.manifestUnits(
        withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
      Curation.manifestFromSub(
        Curation.retractedSubManifest(sub0, store, removed))
    }),
    // The pure SERVE gate of the persisted jac_pairs store: the
    // from-shingles compute runs once in the warehouse build and this
    // oracle hash proves the published store equals q27's
    // from-scratch rebuild bit for bit
    "q180_jaccard_composed" -> ((s: SparkSession, d: String) =>
      ComposedArtifacts.jacPairs(s, d)),
    // The gate SERVED from its persisted artifacts: gateThresholds'
    // K-row per-source cut table + the NB model, applied windowless
    // (broadcast threshold join). On the training corpus the served
    // rows equal q164's exactly, so q164's SQL is the verbatim oracle
    // — the gate family's serve path under the production oracle
    "q179_gate_served" -> q(t => {
      val (lm, consts) = TextAnalysis.nbModel(t.documents,
        posSources = Seq("src0", "src1", "src2"),
        negSources = Seq("src3", "src4", "src5"))
      // ONE training pass: the cut table derives from the same model
      // that serves (gateThresholdsFrom), never a second NB train
      Curation.compositeGateFrom(
        Curation.gateThresholdsFrom(lm, consts, t.documents,
          keepPermille = 900),
        lm, consts, t.documents,
        minEntropyMilli = 3900L, maxEntropyMilli = 4500L)
    }),
    // The hot-bucket STAR RESCUE hash-gated (not just spec-pinned):
    // the corpus is inflated with 300 byte-identical copies of a
    // deterministic template doc, driving its LSH buckets past the
    // 256 cap — the capped all-pairs probe (q26's form) then drops
    // them by design, and the oracle REPRODUCES that blind spot in
    // SQL (okb <= 256) before unioning the star pairs back in. A
    // hash match proves the rescue finds exactly the over-cap pairs
    // and nothing else. One signature pass shared by both probes.
    "q185_hot_bucket_rescue" -> q(t => {
      val docs = t.documents.select(col("doc_id"), col("text"))
      // template = the smallest doc_id with non-degenerate text; 300
      // copies at a disjoint id range (fixture ids are ≤ ~1e5)
      val copies = docs.filter(length(col("text")) > 200)
        .agg(min_by(col("text"), col("doc_id")).as("text"))
        .select(explode(sequence(lit(0L), lit(299L))).as("i"), col("text"))
        .select((col("i") + 10000000L).as("doc_id"), col("text"))
      val corpus = docs.unionByName(copies)
      val occ = Dedup.shingles(corpus)
      val sigs = Dedup.minhashSignaturesFrom(occ).localCheckpoint(true)
      val capped = Dedup.jaccardFor(Dedup.lshCandidates(sigs), occ)
        .filter(col("jaccard") >= 0.7).select("id1", "id2")
      val star = Dedup.hotBucketPairs(sigs)
        .filter(col("est_jaccard") >= 0.7).select("id1", "id2")
      capped.unionByName(star).distinct()
    }),
    // The vector side's INGEST GATE under the oracle: a delivery
    // batch (odd vec_ids) probes the IVF index persisted for the
    // store (even vec_ids — centroids TRAINED ON THE STORE, the
    // serve-time shape), exact quantized cosine against the
    // cell-pruned store only, and each flagged batch vector reports
    // its best store witness — Dedup.incrementalNearDups' semantics
    // carried to embeddings, gated end to end (q34's machinery with
    // store-trained ivfCte and full-batch probes)
    "q193_ann_ingest_gate" -> q(t => {
      val emb = t.embeddings
      val store = emb.filter(col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") % 2 === 1)
      val cents = Similarity.ivfCentroidsDf(store)
      Similarity.semanticIngestGate(cents,
        Similarity.cellsFromCentroids(cents, store), store, batch)
    }),
    // ... and the gate's RECALL under the oracle (the q82 discipline
    // applied to the new operator): brute-force best store cosine per
    // sampled batch vector is ground truth; the gate has no false
    // positives (exact cosine on probed cells), so gate_flag ≤
    // truth_flag and the ratio is the probe-miss rate at this nprobe
    "q194_gate_recall" -> q(t => {
      val emb = t.embeddings
      val store = emb.filter(col("vec_id") % 2 === 0)
      val batch = emb.filter(col("vec_id") % 2 === 1)
      val cents = Similarity.ivfCentroidsDf(store)
      Similarity.ingestGateRecall(cents,
        Similarity.cellsFromCentroids(cents, store), store, batch)
    }),
    // The STORE-SIDE star probe hash-gated (q185's index-vs-batch
    // sibling — ADVICE round-13): the store is the even docs plus 300
    // template copies (a saturated index family), the batch is the
    // odd docs plus ONE more template copy — the capped store probe
    // (incrementalNearDups' q96 form, cap blind spot REPRODUCED in
    // the oracle on the store side) misses that copy by design; the
    // index-vs-batch star (hotBucketProbe) must flag it against the
    // bucket's canonical store doc, and the union is hash-gated
    "q192_store_star_probe" -> q(t => {
      val docs = t.documents.select(col("doc_id"), col("text"))
      val evens = docs.filter(col("doc_id") % 2 === 0)
      val odds = docs.filter(col("doc_id") % 2 === 1)
      val tmpl = evens.filter(length(col("text")) > 200)
        .agg(min_by(col("text"), col("doc_id")).as("text"))
      val storeCopies = tmpl
        .select(explode(sequence(lit(0L), lit(299L))).as("i"), col("text"))
        .select((col("i") + 10000000L).as("doc_id"), col("text"))
      val batchCopy = tmpl.select(lit(20000000L).as("doc_id"), col("text"))
      val storeSigs = Dedup.minhashSignatures(evens.unionByName(storeCopies))
        .localCheckpoint(true)
      val batchSigs = Dedup.minhashSignatures(odds.unionByName(batchCopy))
        .localCheckpoint(true)
      val capped = Dedup.incrementalNearDups(storeSigs, batchSigs)
        .filter(col("est_jaccard") >= 0.7).select("id1", "id2")
      val star = Dedup.hotBucketProbe(storeSigs, batchSigs)
        .filter(col("est_jaccard") >= 0.7).select("id1", "id2")
      capped.unionByName(star).distinct()
    }),
    // LSH bucket-stats store FOLD (ADVICE round-14): the store-side
    // (band, bhash) aggregation both per-delivery probes share,
    // persisted as its own artifact and folded per delivery (counts
    // sum, minima fold) instead of re-aggregated from the signature
    // store — fold(store-stats, delivery) == rebuild over the union,
    // which the SQL computes from scratch
    "q195_bucket_fold" -> q(t => {
      val bucket = Curation.hashBucket(col("doc_id"), 10)
      val store = Dedup.minhashSignatures(t.documents.filter(bucket <= 6))
        .localCheckpoint(true)
      val delivery = Dedup.minhashSignatures(
        t.documents.filter(bucket >= 7)).localCheckpoint(true)
      Dedup.bucketStatsFold(Dedup.bucketStats(store), delivery)
        .select(col("band").cast("long").as("band"), col("bhash"),
          col("bsz"), col("id1"))
    }),
    // ... and its TAKEDOWN inverse: odd docs retracted from the
    // full-corpus bucket store by keyed merge (counts subtract,
    // zero-count buckets drop, lost canonical minima repaired from
    // the survivors) == bucket stats rebuilt over the evens
    "q196_bucket_retract" -> q(t => {
      val all = Dedup.minhashSignatures(t.documents).localCheckpoint(true)
      val retracted = all.filter(col("doc_id") % 2 === 1)
      val surviving = all.filter(col("doc_id") % 2 === 0)
      Dedup.bucketStatsRetract(Dedup.bucketStats(all), surviving,
          retracted)
        .select(col("band").cast("long").as("band"), col("bhash"),
          col("bsz"), col("id1"))
    }),
    // q192's store+batch star-probe scenario SERVED off the folded
    // bucket store: both probes read persisted bucket stats (evens'
    // stats with the template copies folded in) instead of
    // re-aggregating the signature store — the ingest path's shape,
    // gated byte-identically by q192's SQL
    "q197_star_probe_from" -> q(t => {
      val docs = t.documents.select(col("doc_id"), col("text"))
      val evens = docs.filter(col("doc_id") % 2 === 0)
      val odds = docs.filter(col("doc_id") % 2 === 1)
      val tmpl = evens.filter(length(col("text")) > 200)
        .agg(min_by(col("text"), col("doc_id")).as("text"))
      val storeCopies = tmpl
        .select(explode(sequence(lit(0L), lit(299L))).as("i"), col("text"))
        .select((col("i") + 10000000L).as("doc_id"), col("text"))
      val batchCopy = tmpl.select(lit(20000000L).as("doc_id"), col("text"))
      val evenSigs = Dedup.minhashSignatures(evens).localCheckpoint(true)
      val copySigs = Dedup.minhashSignatures(storeCopies)
        .localCheckpoint(true)
      val bstats = Dedup.bucketStatsFold(Dedup.bucketStats(evenSigs),
        copySigs).localCheckpoint(true)
      // signatures are per-doc, so the scorer's store table is the
      // union of the two slices whose stats were folded
      val storeSigs = evenSigs.unionByName(copySigs)
      val batchSigs = Dedup.minhashSignatures(odds.unionByName(batchCopy))
        .localCheckpoint(true)
      val capped = Dedup.incrementalNearDupsFrom(bstats, storeSigs,
          batchSigs)
        .filter(col("est_jaccard") >= 0.7).select("id1", "id2")
      val star = Dedup.hotBucketProbeFrom(bstats, storeSigs, batchSigs)
        .filter(col("est_jaccard") >= 0.7).select("id1", "id2")
      capped.unionByName(star).distinct()
    }),
    // Bigram-LM perplexity scoring (the CCNet-style quality signal):
    // add-one smoothed bigram conditionals trained on the trusted
    // src0-2 slice, every document scored by its total and average
    // per-bigram negative log-likelihood in integer micro-nats
    "q198_lm_score" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
      NgramLm.lmScore(ref, t.documents)
    }),
    // ... its INCREMENTAL state: bigram counts are additive, so a
    // reference delivery folds by keyed merge — fold == from-scratch
    // counts over the grown reference, computed by the SQL directly
    "q199_lm_fold" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
      val bucket = Curation.hashBucket(col("doc_id"), 10)
      NgramLm.bigramCountsUpdate(
        NgramLm.bigramCounts(ref.filter(bucket <= 6)),
        ref.filter(bucket >= 7))
    }),
    // ... and its TAKEDOWN inverse: odd reference docs retracted by
    // signed keyed merge (negative counts raise, zeroed rows drop)
    // == re-training on the surviving evens
    "q200_lm_retract" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
      NgramLm.bigramCountsRetract(NgramLm.bigramCounts(ref),
        ref.filter(col("doc_id") % 2 === 1))
    }),
    // The audit view a curation run reads: the 100 most-perplexed
    // docs (top-k first — TakeOrderedAndProject — then a k-row rank
    // window), with source and length for the review queue
    "q201_lm_outliers" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
      NgramLm.lmOutliers(ref, t.documents)
    }),
    // Per-source perplexity gate (windowed training form): keep the
    // 90.0% least-perplexed docs per source under the integer rank
    // rule — the composite gate's arithmetic on the LM signal
    "q202_lm_gate" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
      NgramLm.lmGate(ref, t.documents)
    }),
    // ... SERVED off the K-row cut table (lmThresholds + broadcast
    // join, zero windows) — q202's SQL gates the serve path verbatim
    "q203_lm_gate_served" -> q(t => {
      val ref = t.documents
        .filter(col("source").isin("src0", "src1", "src2"))
        .localCheckpoint(true)
      NgramLm.lmGateFrom(
        NgramLm.lmThresholds(ref, t.documents).localCheckpoint(true),
        ref, t.documents)
    }),
    // INCREMENTAL maintenance of the exact-verify pair store (the
    // round-13 standing `weak`): the even docs' verified-pair table
    // is the persisted store; the odd docs fold in as a delivery
    // (jaccardPairsFold — delivery-probe candidates + df-cut crossing
    // repair), and the oracle is q27's SQL over the FULL corpus
    // verbatim — fold == rebuild, so the standalone q27 rebuild
    // demotes to the offline role and deliveries pay marginal cost
    // the shingle store is the suite-shared PAIR-family artifact
    // (round-17 verdict #8): shingling is doc-local, so the even/odd
    // slices are filter views of the persisted index — no in-entry
    // corpus explode + localCheckpoint
    // ... and the fold's BASE store is the persisted jac_base_pairs
    // artifact (built once per corpus version), so the timed entry is
    // the fold itself — delivery-probe candidates + df-cut crossing
    // repair — not a per-gate even-docs rebuild
    "q186_jaccard_fold" -> ((s: SparkSession, d: String) => {
      val sh = ComposedArtifacts.shingles(s, d)
      val even = sh.filter(col("doc_id") % 2 === 0)
      val odd = sh.filter(col("doc_id") % 2 === 1)
      Dedup.jaccardPairsFold(
        ComposedArtifacts.jacBasePairs(s, d), even, odd)
    }),
    // ... and its TAKEDOWN inverse: odd docs retracted from the
    // full-corpus store (endpoint anti-joins + uncrossed-shingle
    // candidacies re-verified), gated by q27's SQL over the evens
    "q187_jaccard_retract" -> ((s: SparkSession, d: String) =>
      Dedup.jaccardPairsRetract(
        ComposedArtifacts.jacPairs(s, d),
        ComposedArtifacts.shingles(s, d),
        Tables(s, d).documents.filter(col("doc_id") % 2 === 1)
          .select("doc_id"))),
    // TAKEDOWN of the IVF cell store: odd vectors anti-join out of
    // the full-corpus assignment and serving continues under the v1
    // centroid model — assignment is row-local, so the retracted
    // store equals from-scratch assignment of the survivors under
    // that model, and the oracle (q34's SQL with corpus AND queries
    // restricted to the surviving evens, centroids still trained on
    // the full corpus) hash-gates exactly that serve path
    "q188_ivf_retract" -> ((s: SparkSession, d: String) => {
      // centroids + cells serve from the warehouse (identical
      // derivations); the retract stays the id-keyed anti-join
      val emb = Tables(s, d).embeddings
      val removed = emb.filter(col("vec_id") % 2 === 1).select("vec_id")
      Similarity.ivfTopKFrom(ComposedArtifacts.ivfCentroids(s, d),
        ComposedArtifacts.ivfCells(s, d)
          .join(removed, Seq("vec_id"), "left_anti"),
        emb.join(removed, Seq("vec_id"), "left_anti"))
    }),
    // The PROFILE scoring path under the production oracle: scores
    // derived from the persisted per-doc token profiles (one LM join,
    // no text access) must equal the end-to-end classifier — q156's
    // SQL verbatim gates the narrow-projection recalibration path
    "q190_nb_from_profiles" -> q(t => {
      val (lm, consts) = TextAnalysis.nbModel(t.documents,
        posSources = Seq("src0", "src1", "src2"),
        negSources = Seq("src3", "src4", "src5"))
      TextAnalysis.nbScoreFromProfiles(lm, consts,
        TextAnalysis.tokenProfiles(t.documents))
    }),
    // The SIGNED commutative receipt digest (round-14): the full
    // corpus delivers (+1) and the odd docs retract (−1) through ONE
    // groupBy-sum — no member set, the form a streaming state store
    // can maintain — and the surviving cells must equal the digest
    // sub-manifest computed over the evens from scratch (the oracle,
    // deterministic integer arithmetic mod the prime 2^61−1)
    "q191_signed_digest" -> q(t => {
      val withSplit = t.documents.join(
        Curation.hashSplit(t.documents).select("doc_id", "split"),
        Seq("doc_id"))
      val full = Curation.manifestUnits(withSplit, subShards = 4)
        .withColumn("op", lit(1L))
      val odd = Curation.manifestUnits(
        withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
        .withColumn("op", lit(-1L))
      Curation.signedSubDigest(full.unionByName(odd))
    }),
    // ... and of the PQ code table: odd vectors retracted, ADC served
    // under the v1 codebook — row-local encoding makes the retract
    // exact; q118's SQL with the code table and queries restricted to
    // the evens (codebook trained on the full corpus) is the gate
    "q189_pq_retract" -> ((s: SparkSession, d: String) => {
      // codebook + code table serve from the warehouse (pq_codes ==
      // pqEncodeFrom under the same codebook, the row-local property
      // this entry gates); the retract stays the id-keyed anti-join
      val emb = Tables(s, d).embeddings
      val removed = emb.filter(col("vec_id") % 2 === 1).select("vec_id")
      Similarity.pqAdcFromCodes(
        ComposedArtifacts.pqCodes(s, d)
          .join(removed, Seq("vec_id"), "left_anti"),
        ComposedArtifacts.pqCodebook(s, d),
        emb.join(removed, Seq("vec_id"), "left_anti"))
    }),
    // Scalar quantization (SQ8): per-dim extrema trained in ONE
    // dims-bounded aggregate, row-local int8 codes, exact integer
    // reconstruction error — the per-vector digest is the hash gate
    // (the full code arrays are spec-pinned against a driver
    // recompute)
    "q204_sq_encode" -> q(t => Similarity.sqDigest(t.embeddings)),
    // asymmetric SQ8 search: exact query vectors vs reconstructed
    // corpus code midpoints, all-integer distances, cid tiebreak
    // serves the persisted SQ8 stats + code table (round-18 ANN
    // serve wave; q204 keeps the standalone train-and-encode gated)
    "q205_sq_ann" -> ((s: SparkSession, d: String) =>
      Similarity.sqTopKFromCodes(
        ComposedArtifacts.sqCodes(s, d)
          .select(col("vec_id"), col("codes")),
        ComposedArtifacts.sqStats(s, d), Tables(s, d).embeddings)),
    // two-stage search (the FAISS refine shape): SQ8 over-fetch to
    // top-20, exact-cosine rerank of the candidate sliver to top-5 —
    // the over-fetch serves from the warehouse artifacts
    "q206_sq_refine" -> ((s: SparkSession, d: String) =>
      Similarity.sqRefineTopKFrom(ComposedArtifacts.sqCodes(s, d),
        ComposedArtifacts.sqStats(s, d), Tables(s, d).embeddings)),
    // INCREMENTAL cluster-label maintenance: the label store built
    // from the even-endpoint pairs folds in the delivery's new edges
    // (any pair touching an odd doc) — touched components recompute
    // from star edges + new pairs, everything else carries over; the
    // oracle is q51's closure over the FULL pair set verbatim
    // the pair graph is the suite-shared artifact (scored-table
    // filter view — q51's gate and TrainingOpsSpec prove it equals
    // the standalone minhashDupPairs); no in-entry LSH sweep +
    // localCheckpoint
    "q207_components_fold" -> ((s: SparkSession, d: String) => {
      val pairs = ComposedArtifacts.pairs(s, d)
      Dedup.componentsFold(
        Dedup.componentsOf(
          pairs.filter(col("id1") % 2 === 0 && col("id2") % 2 === 0)),
        pairs.filter(col("id1") % 2 === 1 || col("id2") % 2 === 1))
    }),
    // ... and its TAKEDOWN inverse: odd docs leave; touched
    // components recompute from prior pairs among survivors, pairs
    // the maintained store re-admits fold back in — gated by q51's
    // closure over the surviving evens from scratch. The surviving
    // pair set stays an in-entry LSH sweep over the even docs: it is
    // NOT a filter view of the full-corpus artifact (bucket caps and
    // band occupancy shift when the odd docs leave)
    "q208_components_retract" -> ((s: SparkSession, d: String) => {
      val docs = Tables(s, d).documents
      val all = ComposedArtifacts.pairs(s, d)
      // the survivors-only pair graph must RE-RUN the LSH front (the
      // bucket cap is corpus-dependent — filtering the full graph to
      // even-even pairs would miss buckets the cap re-admits), but
      // its inputs are doc-local, so signatures and shingle sets are
      // filter views of the warehouse stores, not a corpus re-derive
      val evenSigs = ComposedArtifacts.sigs(s, d)
        .filter(col("doc_id") % 2 === 0)
      val evenSh = ComposedArtifacts.shingles(s, d)
        .filter(col("doc_id") % 2 === 0)
      val surviving = Dedup.jaccardFor(
          Dedup.lshCandidates(evenSigs), evenSh)
        .filter(col("jaccard") >= 0.7).select(col("id1"), col("id2"))
      Dedup.componentsRetract(Dedup.componentsOf(all), all, surviving,
        docs.filter(col("doc_id") % 2 === 1).select("doc_id"))
    }),
    // Edit-distance-verified near-dups: the q26 LSH front, verified
    // by banded Levenshtein over 500-char normalized prefixes (order
    // -sensitive — the verifier token-set Jaccard cannot be)
    "q209_edit_dups" -> q(t => Dedup.editDistanceDupPairs(t.documents)),
    // TAKEDOWN of the SQ8 code store (the q189 semantics on the
    // scalar index): odd vectors anti-join out of the code table and
    // serving continues under the v1 extrema — encoding is row-local,
    // so the retracted store equals re-encoding the survivors under
    // that model; the oracle restricts corpus AND queries to the
    // surviving evens while the stats still train on the full corpus
    "q210_sq_retract" -> ((s: SparkSession, d: String) => {
      // stats + code table serve from the warehouse; the retract
      // stays the id-keyed anti-join (row-local encoding makes it
      // exact — the property this entry gates)
      val emb = Tables(s, d).embeddings
      val removed = emb.filter(col("vec_id") % 2 === 1).select("vec_id")
      Similarity.sqTopKFromCodes(
        ComposedArtifacts.sqCodes(s, d)
          .select(col("vec_id"), col("codes"))
          .join(removed, Seq("vec_id"), "left_anti"),
        ComposedArtifacts.sqStats(s, d),
        emb.join(removed, Seq("vec_id"), "left_anti"))
    }),
    // IVF-SQ composed index (the FAISS IVFxx,SQ8 shape): cells prune
    // candidates, SQ codes score them element-locally — no LUT join
    "q212_ivfsq_ann" -> ((s: SparkSession, d: String) =>
      Similarity.ivfSqTopKFrom(ComposedArtifacts.ivfCentroids(s, d),
        ComposedArtifacts.ivfCells(s, d), ComposedArtifacts.sqStats(s, d),
        ComposedArtifacts.sqCodes(s, d), Tables(s, d).embeddings)),
    // Dimension-truncation recall curve (the matryoshka storage
    // knob): truncated-cosine top-k per width vs full-width truth
    "q215_dim_truncation" -> q(t =>
      Similarity.dimTruncationCurve(t.embeddings)),
    // Margin-based parallel-pair mining (the CCMatrix shape): mutual
    // ratio-margin best pairs between two label sides — floor-micro
    // cosines make the k-NN sums integer-exact
    "q216_margin_mining" -> q(t =>
      Similarity.marginMinePairs(t.embeddings)),
    // ... and its warehouse-scale path: candidates and margin sums
    // restricted to same-cell cross-side pairs off the shared cell
    // artifact — nothing |A|·|B| anywhere
    "q217_margin_mining_cells" -> ((s: SparkSession, d: String) =>
      Similarity.marginMinePairsFromCells(
        ComposedArtifacts.cells(s, d), Tables(s, d).embeddings)),
    // IVF-PQ + exact refine (the FAISS IVFxx,PQyy,Refine shape): the
    // compressed index over-fetches top-20, raw vectors rerank the
    // sliver to exact-cosine top-5
    "q218_ivfpq_refine" -> ((s: SparkSession, d: String) =>
      Similarity.ivfPqRefineTopKFrom(ComposedArtifacts.ivfCentroids(s, d),
        ComposedArtifacts.ivfCells(s, d),
        ComposedArtifacts.pqCodebook(s, d),
        ComposedArtifacts.pqCodes(s, d), Tables(s, d).embeddings)),
    // Leakage-free split: hashSplit keyed by the near-dup CLUSTER —
    // a whole near-dup family lands in one split, so no dup pair can
    // straddle train and test
    "q213_cluster_split" -> ((s: SparkSession, d: String) =>
      Curation.clusterAwareSplit(Tables(s, d).documents,
        Dedup.componentsOf(ComposedArtifacts.pairs(s, d)))),
    // Reliability table for the NB quality classifier: held-out
    // (buckets 8-9) docs binned by llr — is pos_rate monotone in the
    // score, i.e. can the llr be trusted as a sampling weight
    "q214_nb_reliability" -> q(t =>
      TextAnalysis.nbReliability(t.documents,
        posSources = Seq("src0", "src1", "src2"),
        negSources = Seq("src3", "src4", "src5"))),
    // Repeat-epoch plan under a token budget (data-constrained
    // scaling): exact integer water-filling toward equal per-source
    // shares with a repeat ceiling — capped prefix by the monotone
    // c·(K−i+1) ≤ B−P rule, remainder spread deterministically
    "q211_repeat_plan" -> q(t =>
      Curation.repeatPlan(t.documents, budgetTokens = 30000L,
        maxRepeat = 2)),
    // ... and its temperature-weighted sibling: target share ∝
    // √tokens, DECIMAL/HUGEINT cross-multiplied cap rule, Hamilton
    // largest-remainder apportionment of the uncapped budget
    "q219_repeat_temperature" -> q(t =>
      Curation.repeatPlanTemperature(t.documents, budgetTokens = 30000L,
        maxRepeat = 2)),
    // Quality-weighted cluster keeps: the per-component winner is the
    // highest NB-llr member, not the longest — dedup resolution that
    // keeps the clean original over a boilerplate-wrapped mirror
    "q220_cluster_keep_quality" -> ((s: SparkSession, d: String) => {
      val labels = Dedup.componentsOf(ComposedArtifacts.pairs(s, d))
      val scores = TextAnalysis.nbClassifierScores(Tables(s, d).documents,
          posSources = Seq("src0", "src1", "src2"),
          negSources = Seq("src3", "src4", "src5"))
        .select(col("doc_id"), col("llr_micro").as("score"))
      Dedup.clusterKeepsByScore(labels, scores)
    }),
  )

  /** Entry → sibling whose oracle SQL gates it verbatim (same
    * semantics, different physical path).
    */
  private val composedTwinOf: Map[String, String] = Map(
    // the incremental fold's exact oracle IS the batch hierarchical
    // manifest (the q161/q92/q154 additivity pattern)
    "q178_incremental_manifest"    -> "q162_manifest_hier",
    // takedown: retract(full index, odd) == from-scratch(even), so
    // probing odd against the retracted index IS q154's scenario —
    // its SQL gates the retraction verbatim
    "q182_span_retract"            -> "q154_incremental_spans",
    // the served gate on its training corpus IS the windowed gate
    "q179_gate_served"             -> "q164_composite_gate",
    "q180_jaccard_composed"        -> "q27_ngram_jaccard",
    // verified-pair store fold: fold(evens-store, odds) == rebuild
    // over the grown corpus, so q27's batch SQL gates the incremental
    // maintenance verbatim (the q178/q161 additivity pattern applied
    // to the one family that was still rebuild-only)
    "q186_jaccard_fold"            -> "q27_ngram_jaccard",
    // the profile path scores exactly what the end-to-end classifier
    // scores — q156's SQL gates the narrow projection verbatim
    "q190_nb_from_profiles"        -> "q156_nb_classifier",
    // both probes served off the FOLDED bucket-stats store instead of
    // re-aggregating the signature store — q192's scenario and SQL
    // gate the composed serve path verbatim
    "q197_star_probe_from"         -> "q192_store_star_probe",
    // the K-row perplexity cut + broadcast join serves exactly the
    // windowed gate's verdicts — q202's SQL gates the serve path
    "q203_lm_gate_served"          -> "q202_lm_gate",
    // label-store fold: carry-over + touched-component recompute ==
    // components of the union pair set — q51's closure SQL verbatim
    "q207_components_fold"         -> "q51_dup_clusters",
    // span-group fold: carried untouched groups + recomputed touched
    // groups == the full-corpus maximal-repeat pairs — q230's
    // collision-free suffix-CTE oracle gates the maintenance verbatim
    "q241_suffix_fold"             -> "q230_suffix_repeats",
    // per-doc repeat profile off the group stores (no arrays, no
    // doubling) == the array path — q231's oracle verbatim
    "q243_suffix_doc_profile"      -> "q231_doc_repeats")

  /** Normalized text, DuckDB dialect (the 'g' flag is required —
    * DuckDB's regexp_replace is single-match by default, Spark's is
    * global).
    */
  private val norm = raw"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

  private def classCount(src: String, cls: String): String =
    s"length($src) - length(regexp_replace($src, '$cls', '', 'g'))"

  /** Shared NB-classifier training CTEs (q156/q157), mirroring
    * TextAnalysis.nbScored's micro-nat discipline: `lab` = the
    * source-labeled slice (src0-2 vs src3-5) with its md5 bucket,
    * `tr` = the training subset per `labFilter`, `vt`/`st`/`ds` =
    * per-class type counts / totals / doc priors, `ct` = the OOV and
    * prior constants, `lm` = the per-token micro-nat log-probs.
    */
  private def nbCtes(labFilter: String): String =
    s"""lab AS (SELECT doc_id,
       |    CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END
       |      AS cls,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 10 AS b,
       |    $norm AS norm
       |  FROM documents
       |  WHERE source IN ('src0','src1','src2','src3','src4','src5')),
       |tr AS (SELECT * FROM lab WHERE $labFilter),
       |vt AS (SELECT tok AS token,
       |    CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tf1,
       |    CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tf0
       |  FROM (SELECT cls, unnest(string_split(norm, ' ')) AS tok FROM tr)
       |  WHERE length(tok) > 0 GROUP BY tok),
       |st AS (SELECT CAST(SUM(tf1) AS BIGINT) AS T1,
       |    CAST(SUM(tf0) AS BIGINT) AS T0,
       |    CAST(COUNT(*) AS BIGINT) AS V FROM vt),
       |ds AS (SELECT CAST(SUM(cls) AS BIGINT) AS n1,
       |    CAST(SUM(1 - cls) AS BIGINT) AS n0 FROM tr),
       |ct AS (SELECT
       |    CAST(floor(1000000.0 * ln(1 / CAST(T1 + V + 1 AS DOUBLE)))
       |      AS BIGINT) AS oov1,
       |    CAST(floor(1000000.0 * ln(1 / CAST(T0 + V + 1 AS DOUBLE)))
       |      AS BIGINT) AS oov0,
       |    CAST(floor(1000000.0 * ln(CAST(n1 AS DOUBLE) /
       |        CAST(n1 + n0 AS DOUBLE))) AS BIGINT)
       |      - CAST(floor(1000000.0 * ln(CAST(n0 AS DOUBLE) /
       |        CAST(n1 + n0 AS DOUBLE))) AS BIGINT) AS prior_diff
       |  FROM st CROSS JOIN ds),
       |lm AS (SELECT token,
       |    CAST(floor(1000000.0 * ln((tf1 + 1) /
       |      CAST(T1 + V + 1 AS DOUBLE))) AS BIGINT) AS lnp1,
       |    CAST(floor(1000000.0 * ln((tf0 + 1) /
       |      CAST(T0 + V + 1 AS DOUBLE))) AS BIGINT) AS lnp0
       |  FROM vt CROSS JOIN st)""".stripMargin

  /** Shared bigram-LM CTEs (q198-q201), mirroring NgramLm's micro-nat
    * discipline: `bg` = per-doc bigram OCCURRENCES of the normalized
    * tokenization (duplicates kept), `refbg` = the trusted-slice
    * bigrams per `refFilter`, `bi`/`uni`/`ct` = the count / context /
    * constants artifacts (c1 = Σ c12 so c12 ≤ c1; v = distinct
    * next-token types), `lmsc` = per-doc total + average negative
    * log-likelihood in floor-micro-nats, `//` on non-negative longs
    * matching Spark's `div`. `bg` and `bi` are MATERIALIZED: `bg`
    * feeds both training and scoring, `bi` feeds uni/ct/the score
    * join, and DuckDB 1.0 re-inlines plain CTEs per reference.
    */
  private def lmCtes(refFilter: String): String =
    s"""docs AS (SELECT doc_id, $norm AS norm FROM documents),
       |bg AS MATERIALIZED (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT doc_id, toks,
       |          unnest(generate_series(1, len(toks) - 1)) AS i
       |        FROM (SELECT doc_id, string_split(norm, ' ') AS toks
       |              FROM docs WHERE length(norm) > 0))),
       |refbg AS (SELECT bg.w1, bg.w2 FROM bg
       |          JOIN documents d ON d.doc_id = bg.doc_id
       |          WHERE $refFilter),
       |bi AS MATERIALIZED (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
       |                    FROM refbg GROUP BY w1, w2),
       |uni AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1
       |        FROM bi GROUP BY w1),
       |ct AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM bi),
       |lmsc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_big,
       |    CAST(SUM(nll) AS BIGINT) AS nll_micro,
       |    CAST(CAST(SUM(nll) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
       |      AS BIGINT) AS avg_nll_micro
       |  FROM (SELECT bg.doc_id,
       |      -CAST(floor(1000000.0 * ln(
       |        CAST(COALESCE(bi.c12, 0) + 1 AS DOUBLE) /
       |        CAST(COALESCE(uni.c1, 0) + ct.v + 1 AS DOUBLE)))
       |        AS BIGINT) AS nll
       |    FROM bg LEFT JOIN bi ON bi.w1 = bg.w1 AND bi.w2 = bg.w2
       |    LEFT JOIN uni ON uni.w1 = bg.w1
       |    CROSS JOIN ct)
       |  GROUP BY doc_id)""".stripMargin

  private val lmRefFilter = "d.source IN ('src0','src1','src2')"

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "une"),
    "es" -> Seq("el", "los", "las", "una", "por"))

  private def stopScore(lang: String): String =
    stopwords(lang).map(w =>
      s"(CASE WHEN strpos(pad, ' $w ') > 0 THEN 1 ELSE 0 END)")
      .mkString("(", " + ", ")")

  private val nTokens =
    "CASE WHEN length(norm) = 0 THEN 0 ELSE len(string_split(norm, ' ')) END"

  /** q78's DSIR importance-weight pipeline as reusable CTEs — callers
    * read `w(doc_id, n_tok, dsir_micro)`. Shared by q78 and q91.
    */
  private val dsirCtes =
    s"""toks AS (SELECT doc_id, source, tok FROM (
       |    SELECT doc_id, source, unnest(string_split($norm, ' ')) AS tok
       |    FROM documents) WHERE length(tok) > 0),
       |raw AS (SELECT tok, COUNT(*) AS r_c FROM toks GROUP BY tok),
       |tgt AS (SELECT tok, COUNT(*) AS t_c FROM toks
       |        WHERE source IN ('src0','src1','src2','src3') GROUP BY tok),
       |tot AS (SELECT CAST(SUM(r_c) AS BIGINT) AS n_raw,
       |        CAST(COUNT(*) AS BIGINT) AS v FROM raw),
       |ttot AS (SELECT CAST(COALESCE(SUM(t_c), 0) AS BIGINT) AS n_tgt
       |         FROM tgt),
       |ratio AS (SELECT raw.tok,
       |    CAST(round(1e6 * ln(
       |      CAST(COALESCE(t_c, 0) + 1 AS DOUBLE) * (n_raw + v) /
       |        (CAST(r_c + 1 AS DOUBLE) * (n_tgt + v)))) AS BIGINT)
       |      AS lr_micro
       |  FROM raw LEFT JOIN tgt USING (tok) CROSS JOIN tot CROSS JOIN ttot),
       |pdt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks
       |        GROUP BY doc_id, tok),
       |w AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
       |        CAST(SUM(c * lr_micro) AS BIGINT) AS dsir_micro
       |      FROM pdt JOIN ratio ON pdt.tok = ratio.tok
       |      GROUP BY doc_id)""".stripMargin

  /** q23's quality-score pipeline as reusable CTEs — callers read
    * `qual(doc_id, quality)`. Shared by q23 and q88.
    */
  private val qualityCte =
    s"""base AS (
       |  SELECT doc_id, norm, pad,
       |    CAST(length(norm) AS DOUBLE) AS len,
       |    CAST(${classCount("norm", "[.,;:!?]")} AS DOUBLE) AS npunct,
       |    CAST(${classCount("norm", "[A-Za-z]")} AS DOUBLE) AS nalpha,
       |    CASE WHEN regexp_matches(norm, '[一-鿿]') THEN 1.0 ELSE 0.0 END AS cjk,
       |    ${stopScore("en")} AS s_en, ${stopScore("de")} AS s_de,
       |    ${stopScore("fr")} AS s_fr, ${stopScore("es")} AS s_es
       |  FROM (SELECT doc_id, $norm AS norm, ' ' || $norm || ' ' AS pad
       |        FROM documents)),
       |terms AS (
       |  SELECT doc_id,
       |    CASE WHEN len >= 200 AND len <= 5000 THEN 1.0
       |         WHEN len >= 50 THEN 0.5 ELSE 0.0 END AS len_score,
       |    CASE WHEN npunct / greatest(len, 1.0) > 0.001
       |          AND npunct / greatest(len, 1.0) < 0.2 THEN 1.0 ELSE 0.0 END AS punct_score,
       |    greatest(CASE WHEN nalpha / greatest(len, 1.0) > 0.6 THEN 1.0
       |                  ELSE (nalpha / greatest(len, 1.0)) / 0.6 END, cjk) AS alpha_score,
       |    CASE WHEN greatest(s_en, s_de, s_fr, s_es) >= 2 OR cjk = 1.0
       |         THEN 1.0 ELSE 0.0 END AS stop_score
       |  FROM base),
       |qual AS (
       |  SELECT doc_id,
       |    len_score * 0.25 + punct_score * 0.25 + alpha_score * 0.25 +
       |      stop_score * 0.25 AS quality
       |  FROM terms)""".stripMargin

  /** 8-token windows CTE (q111/q112): `tok(doc_id, toks)` is the
    * whitespace token list of the normalized text (empty docs out —
    * string_split('') yields [''], not []), `wins(doc_id, pos, fp)`
    * one md5 fingerprint per 8-token window at 1-based token `pos`.
    * Mirrors SubstringDedup.windowOccurrences exactly.
    */
  private val tokenWindowsCte =
    s"""tok AS (SELECT doc_id, string_split(norm, ' ') AS toks FROM (
       |        SELECT doc_id, $norm AS norm FROM documents)
       |        WHERE length(norm) > 0),
       |wins AS (SELECT doc_id, i AS pos,
       |           md5(array_to_string(toks[i:i+7], ' ')) AS fp
       |         FROM (SELECT doc_id, toks,
       |                 unnest(generate_series(1, len(toks) - 7)) AS i
       |               FROM tok WHERE len(toks) >= 8))""".stripMargin

  /** Coverage chain after [[tokenWindowsCte]] (q111/q114): merged
    * duplicated-interval coverage per doc, gaps-and-islands over a
    * running max of interval ends — callers read `cov(doc_id,
    * dup_tokens)` and `lens(doc_id, n_tokens)`. Validated against a
    * brute-force position-set computation.
    */
  private val spanCoverageCtes =
    """dup AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= 2),
      |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (fp)),
      |isl AS (SELECT doc_id, pos,
      |  CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id
      |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |    -1) THEN 1 ELSE 0 END AS is_start
      |  FROM hits),
      |grp AS (SELECT doc_id, pos, SUM(is_start) OVER (PARTITION BY doc_id
      |        ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g FROM isl),
      |cov AS (SELECT doc_id, CAST(SUM(maxe - mins + 1) AS BIGINT)
      |          AS dup_tokens FROM (
      |        SELECT doc_id, g, MIN(pos) AS mins, MAX(pos) + 7 AS maxe
      |        FROM grp GROUP BY doc_id, g) GROUP BY doc_id),
      |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
      |         FROM tok WHERE len(toks) >= 8)""".stripMargin

  /** Bloom chain after [[tokenWindowsCte]] (q113/q114): deterministic
    * bit j of fp = 60 bits of md5(fp||'#'||j) mod 65536 — the same
    * arithmetic as BloomDecontam.bitIndex, so the false-positive set
    * matches bit for bit. A fp whose two seeds collide joins the
    * (distinct) bit set twice → COUNT(*)=2 still (mirrors Spark's
    * duplicate-keeping explode). Callers read `hit(doc_id, fp)`.
    */
  private val bloomHitCtes =
    """dw AS (SELECT DISTINCT doc_id, fp FROM wins),
      |ev AS (SELECT DISTINCT fp FROM dw WHERE doc_id % 10 = 0),
      |bits AS (SELECT DISTINCT CAST(concat('0x',
      |           substr(md5(fp || '#' || s), 1, 15)) AS BIGINT) % 65536
      |           AS bit
      |         FROM ev CROSS JOIN (SELECT unnest([0, 1]) AS s)),
      |tb AS (SELECT doc_id, fp, CAST(concat('0x',
      |         substr(md5(fp || '#' || s), 1, 15)) AS BIGINT) % 65536
      |         AS bit
      |       FROM dw CROSS JOIN (SELECT unnest([0, 1]) AS s)
      |       WHERE doc_id % 10 <> 0),
      |hit AS (SELECT doc_id, fp FROM tb JOIN bits USING (bit)
      |        GROUP BY doc_id, fp HAVING COUNT(*) = 2)""".stripMargin

  // 5-gram shingles CTE (shared by minhash queries). DuckDB 1.0 has no
  // lateral generate_series table function; unnest of the list form
  // in the SELECT list is the portable spelling.
  // `sh` is MATERIALIZED: every consumer reads it several times (shh
  // + sizes + both sides of the `common` self-join), and DuckDB 1.0
  // inlines plain CTEs per reference — at sf0.1 that re-derives the
  // multi-million-row shingle table 4+ times per query (measured:
  // >60 GB of spill on the PageRank family before this annotation).
  private def shinglesCteFor(docWhere: String): String =
    s"""docs AS (SELECT doc_id, $norm AS norm FROM documents$docWhere),
       |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
       |       SELECT doc_id, norm,
       |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
       |       FROM docs))""".stripMargin
  private val shinglesCte = shinglesCteFor("")

  private def sigName(i: Int): String = f"sig$i%02d"

  /** Numeric MinHash family — constants mirror Dedup.hashParams. */
  private val hashedShinglesCte =
    """shh AS (SELECT doc_id,
      |  CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % 1000000007 AS h
      |  FROM sh)""".stripMargin
  private val sigCols = graft.operators.Dedup.hashParams.zipWithIndex
    .map { case ((a, b), i) =>
      s"MIN((h * $a + $b) % 1000000007) AS ${sigName(i)}" }
    .mkString(", ")

  private val bandsSql = (0 until 4).map { b =>
    val cols = (0 until 4).map(r => s"CAST(${sigName(b * 4 + r)} AS VARCHAR)")
      .mkString(" || '|' || ")
    s"SELECT doc_id, $b AS band, md5($cols) AS bhash FROM sig"
  }.mkString(" UNION ALL ")

  /** Component-agreement count between two sig rows aliased a/b —
    * mirrors Dedup.estimatedJaccardPairs' agree sum (q94). */
  private val sigAgreeSql = (0 until 16)
    .map(i => s"(CASE WHEN a.${sigName(i)} = b.${sigName(i)} THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** Normalized docs → minhash→LSH→Jaccard-verified dup pairs
    * (threshold 0.7) — the shared front of q51/q72/q75. Callers read
    * `dup(id1, id2)`. `dup` is MATERIALIZED: the graph consumers
    * (q89 degrees, q128/q133 PageRank replays) reference it through
    * `edges` several times per iteration, and with plain `WITH`
    * DuckDB re-expands the whole shingle→LSH→verify pipeline per
    * reference — the q125 ~3^k CTE blowup, here measured as an
    * out-of-disk (>80 GB RAM + >79 GB spill) at sf0.1 where the
    * materialized form completes in seconds.
    */
  private def dupPairsCtesFor(docWhere: String): String =
    s"""${shinglesCteFor(docWhere)},
       |$hashedShinglesCte,
       |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
       |bands AS ($bandsSql),
       |okb AS (SELECT band, bhash FROM bands
       |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
       |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
       |       FROM bands JOIN okb USING (band, bhash)),
       |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |          FROM bb a JOIN bb b
       |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
       |           FROM cands c
       |           JOIN sh a ON a.doc_id = c.id1
       |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
       |           GROUP BY c.id1, c.id2),
       |dup AS MATERIALIZED (SELECT id1, id2 FROM (
       |          SELECT id1, id2,
       |            CAST(common AS DOUBLE) / CAST(s1.sz + s2.sz - common AS DOUBLE) AS jaccard
       |          FROM common
       |          JOIN sizes s1 ON s1.doc_id = id1
       |          JOIN sizes s2 ON s2.doc_id = id2)
       |        WHERE jaccard >= 0.7)""".stripMargin
  private val dupPairsCtes = dupPairsCtesFor("")

  /** [[dupPairsCtes]] + recursive transitive closure — shared by
    * q51/q72 (and q208 over the doc-filtered survivors). Callers
    * prepend `WITH RECURSIVE` and read `comp(doc_id, component)` /
    * `cs(component, cluster_size)`.
    */
  private def dupComponentsCtesFor(docWhere: String): String =
    s"""${dupPairsCtesFor(docWhere)},
       |sym AS (SELECT id1 AS src, id2 AS dst FROM dup
       |        UNION SELECT id2, id1 FROM dup),
       |reach(node, lbl) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT r.node, s.dst FROM reach r JOIN sym s ON r.lbl = s.src),
       |comp AS (SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node),
       |cs AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)""".stripMargin
  private val dupComponentsCtes = dupComponentsCtesFor("")

  // simhash-32 expression fragments
  private def nib(p: Int): String = s"CAST('0x' || substr(h, $p, 1) AS INTEGER)"
  private val simhashCounters = (0 until 32).map { j =>
    s"SUM(((${nib(j / 4 + 1)} >> ${3 - j % 4}) & 1) * 2 - 1) AS c$j"
  }.mkString(", ")
  private val simhashPack = (0 until 32)
    .map(j => s"CASE WHEN c$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** ssig(doc_id, simhash) — shared by q28 and q29. */
  private val simhashSigCte =
    s"""toks AS (
       |  SELECT doc_id, md5(tok) AS h FROM (
       |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok FROM documents)
       |  WHERE length(tok) > 0),
       |ctr AS (SELECT doc_id, $simhashCounters FROM toks GROUP BY doc_id),
       |ssig AS (SELECT doc_id, CAST($simhashPack AS BIGINT) AS simhash FROM ctr)""".stripMargin

  /** 8-bit banded chunks of the simhash with the maxBucket=1024 cap —
    * mirrors Dedup.simhashDupPairs.
    */
  private val simhashBandsCte = {
    val bands = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 8}) & 255 AS chunk FROM ssig")
      .mkString(" UNION ALL ")
    s"""sbands AS ($bands),
       |sok AS (SELECT band, chunk FROM sbands
       |        GROUP BY band, chunk HAVING COUNT(*) <= 1024),
       |sbb AS (SELECT sbands.doc_id, sbands.simhash, sbands.band, sbands.chunk
       |        FROM sbands JOIN sok USING (band, chunk))""".stripMargin
  }

  // quantized-integer flattening of embeddings (shared by knn queries)
  private val flatCte =
    """flat AS (SELECT vec_id, i,
      |  CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      |  FROM (SELECT vec_id, embedding,
      |        unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
      |norms AS (SELECT vec_id, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS nrm
      |          FROM flat GROUP BY vec_id)""".stripMargin

  /** SQ8 chain after [[flatCte]] (q204-q206): per-dim extrema over
    * the width-64 vectors, floor cell codes, midpoint reconstruction
    * — mirrors Similarity.sqStats/sqCodesExpr/sqReconExpr (all
    * products < 2^53 so the double floors are bit-stable). Callers
    * read `f64(vec_id, i, v)` and `srecon(vec_id, i, v, code, r)`.
    */
  private val sqCtes =
    """f64 AS (SELECT f.* FROM flat f
      |        JOIN (SELECT vec_id FROM embeddings
      |              WHERE len(embedding) = 64) d USING (vec_id)),
      |sstats AS (SELECT i, MIN(v) AS vmin, MAX(v) AS vmax
      |           FROM f64 GROUP BY i),
      |scode AS (SELECT f.vec_id, f.i, f.v, s.vmin, s.vmax,
      |    CASE WHEN s.vmax = s.vmin THEN CAST(0 AS BIGINT)
      |         ELSE GREATEST(CAST(0 AS BIGINT), LEAST(CAST(255 AS BIGINT),
      |           CAST(floor(CAST((f.v - s.vmin) * 255 AS DOUBLE)
      |                / CAST(s.vmax - s.vmin AS DOUBLE)) AS BIGINT))) END
      |      AS code
      |  FROM f64 f JOIN sstats s ON s.i = f.i),
      |srecon AS (SELECT vec_id, i, v, code,
      |    vmin + CAST(floor(CAST((2 * code + 1) * (vmax - vmin) AS DOUBLE)
      |      / 512) AS BIGINT) AS r
      |  FROM scode)""".stripMargin

  /** The full-corpus NB scoring SQL (q156, and q161's incremental
    * build — additive counts make batch the exact oracle of the fold).
    */
  /** dc/sc/ag CTEs scoring the whole corpus under lm/ct — shared by
    * [[nbScoreAllSql]] and the q164 composite gate.
    */
  private lazy val nbScoreBodyCtes: String =
    s"""dc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
       |    FROM documents)
       |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
       |sc AS (SELECT d.doc_id, d.c,
       |    COALESCE(lm.lnp1, (SELECT oov1 FROM ct))
       |      - COALESCE(lm.lnp0, (SELECT oov0 FROM ct)) AS dl
       |  FROM dc d LEFT JOIN lm ON lm.token = d.tok),
       |ag AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
       |    CAST(SUM(c * dl) AS BIGINT) AS tok_llr FROM sc GROUP BY doc_id)""".stripMargin

  /** NB trained on the `labFilter` slice of the labeled docs, the
    * whole corpus scored — "TRUE" is the q156/q161 batch oracle;
    * "doc_id % 2 = 0" gates q183's takedown (retracted counts ==
    * batch-trained on the surviving slice).
    */
  private def nbScoreSql(labFilter: String): String =
    s"""WITH ${nbCtes(labFilter)},
       |$nbScoreBodyCtes
       |SELECT doc_id, n_tok,
       |  CAST(tok_llr + (SELECT prior_diff FROM ct) AS BIGINT) AS llr_micro,
       |  CAST(CASE WHEN tok_llr + (SELECT prior_diff FROM ct) > 0
       |    THEN 1 ELSE 0 END AS BIGINT) AS pred_pos
       |FROM ag ORDER BY doc_id""".stripMargin

  private lazy val nbScoreAllSql: String = nbScoreSql("TRUE")

  /** The exact n-gram Jaccard pipeline (df≤100 candidate cut, full-set
    * verify, threshold 0.5) over the `docFilter` slice of `documents` —
    * "TRUE" is q27's batch oracle and, verbatim, the q180 serve and
    * q186 fold gates; "doc_id % 2 = 0" gates q187's
    * takedown of the verified-pair store.
    */
  private def jaccardSql(docFilter: String): String =
    s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents
       |              WHERE $docFilter),
       |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
       |       SELECT doc_id, norm,
       |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
       |       FROM docs)),
       |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
       |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
       |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |          FROM shr a JOIN shr b
       |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
       |           FROM cands c
       |           JOIN sh a ON a.doc_id = c.id1
       |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
       |           GROUP BY c.id1, c.id2),
       |j AS (SELECT id1, id2,
       |        CAST(common AS DOUBLE) / CAST(s1.sz + s2.sz - common AS DOUBLE) AS jaccard
       |      FROM common
       |      JOIN sizes s1 ON s1.doc_id = id1
       |      JOIN sizes s2 ON s2.doc_id = id2)
       |SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.5
       |ORDER BY id1, id2""".stripMargin

  /** The per-unit 60-bit commutative digest over the same "doc_id:fp"
    * identity string as the sorted-concat receipt — mirrors
    * Curation.unitDig (15 md5 hex chars < 2^60 < 2^61−1).
    */
  private val unitDigSql =
    "CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), " +
      "':', fp)), 1, 15)) AS BIGINT)"

  /** Hierarchical (subShards = 4) manifest over the `docFilter` slice
    * of `documents` — "TRUE" is the q160/q162/q178 batch oracle;
    * "doc_id % 2 = 0" gates q184's takedown receipt.
    */
  private def manifestHierSql(docFilter: String): String =
    s"""WITH mdocs AS (SELECT * FROM documents WHERE $docFilter),
       |sp AS (SELECT doc_id,
       |    CASE WHEN b < 80 THEN 'train'
       |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % 100 AS b FROM mdocs)),
       |d AS (SELECT s.split, dd.doc_id,
       |    CAST(concat('0x', substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 4 AS sub,
       |    COALESCE(md5($norm), 'null') AS fp,
       |    COALESCE(CASE WHEN length($norm) = 0 THEN 0
       |         ELSE len(string_split($norm, ' ')) END, 0) AS n_tok
       |  FROM mdocs dd JOIN sp s ON s.doc_id = dd.doc_id),
       |sm AS (SELECT split, sub, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_tok) AS BIGINT) AS n_tok,
       |    md5(string_agg(concat(CAST(doc_id AS VARCHAR), ':', fp), ''
       |      ORDER BY doc_id)) AS sub_md5,
       |    CAST(SUM(CAST($unitDigSql AS HUGEINT))
       |      % 2305843009213693951 AS BIGINT) AS sub_dig61
       |  FROM d GROUP BY split, sub)
       |SELECT split, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
       |  md5(string_agg(sub_md5, '' ORDER BY sub)) AS content_md5,
       |  CAST(SUM(CAST(sub_dig61 AS HUGEINT))
       |    % 2305843009213693951 AS BIGINT) AS content_dig61
       |FROM sm GROUP BY split ORDER BY split""".stripMargin

  /** Nearest-centroid classifier CTEs (q158/q159), mirroring
    * Similarity.centroidClassifier: `cent` = per-(label, dim)
    * floor(sum/n) centroids over the md5-bucket 0-7 train split,
    * `pred` = every vector's argmax-cosine label (ties to the lower
    * label, the max_by struct rule).
    */
  private val centClassCte =
    s"""$flatCte,
       |ctr AS (SELECT f.vec_id, f.i, f.v, e.label
       |        FROM flat f JOIN embeddings e ON e.vec_id = f.vec_id
       |        WHERE CAST(concat('0x', substr(md5(CAST(f.vec_id AS VARCHAR)),
       |          1, 8)) AS BIGINT) % 10 <= 7),
       |cent AS (SELECT label, i,
       |    CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
       |  FROM ctr GROUP BY label, i),
       |cnorm AS (SELECT label, sqrt(CAST(SUM(cv*cv) AS DOUBLE)) AS cnrm
       |          FROM cent GROUP BY label),
       |cdots AS (SELECT f.vec_id, c.label AS clabel, SUM(f.v * c.cv) AS dot
       |          FROM flat f JOIN cent c ON c.i = f.i
       |          GROUP BY f.vec_id, c.label),
       |ccs AS (SELECT d.vec_id, d.clabel,
       |          CAST(d.dot AS DOUBLE) / (n.nrm * cn.cnrm) AS ccos
       |        FROM cdots d JOIN norms n ON n.vec_id = d.vec_id
       |        JOIN cnorm cn ON cn.label = d.clabel),
       |pred AS (SELECT vec_id, clabel, ccos FROM (
       |    SELECT vec_id, clabel, ccos,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY ccos DESC, clabel) AS rn FROM ccs)
       |  WHERE rn = 1)""".stripMargin

  /** Random-hyperplane bucket CTEs — constants mirror
    * Similarity.hyperplaneParams; the signed projections are exact
    * integer sums over the quantized elements, so bucket keys agree
    * bit-for-bit with the Spark side. `hbb` = bucketed rows with the
    * same maxBucket=256 hot-bucket cap as capBuckets.
    */
  private def hplaneCte(tables: Int, bits: Int): String = {
    val sums = graft.operators.Similarity.hyperplaneParams.take(tables * bits)
      .zipWithIndex.map { case ((a, b), h) =>
        s"SUM(v * (CASE WHEN ((i*$a + $b) % 1000000007) % 2 = 0" +
          s" THEN 1 ELSE -1 END)) AS d$h"
      }.mkString(", ")
    val tblSelects = (0 until tables).map { t =>
      val bitsExpr = (0 until bits).map(r =>
        s"(CASE WHEN d${t * bits + r} >= 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"SELECT vec_id, $t AS tbl, $bitsExpr AS bucket FROM hdots"
    }.mkString(" UNION ALL ")
    s"""hdots AS (SELECT vec_id, $sums FROM flat GROUP BY vec_id),
       |hb AS ($tblSelects),
       |hok AS (SELECT tbl, bucket FROM hb
       |        GROUP BY tbl, bucket HAVING COUNT(*) <= 256),
       |hbb AS (SELECT hb.vec_id, hb.tbl, hb.bucket
       |        FROM hb JOIN hok USING (tbl, bucket))""".stripMargin
  }

  /** IVF training + assignment CTEs — mirrors Similarity.ivfTopK:
    * seed centroids = the nCentroids quantized vectors whose vec_ids
    * sort first under (md5(vec_id), vec_id) — the dense-id-free
    * trainCentroids draw; per Lloyd
    * iteration, argmax-cosine assignment (ties: cell asc) then
    * per-dimension floor(sum/count) centroid update (exact in both
    * engines); final `assign` = each vector's cell, `probes` = each
    * vector's nprobe nearest cells.
    */
  private def ivfCte(nCentroids: Int, lloydIters: Int, nprobe: Int,
      trainSrc: String = "flat"): String = {
    val sb = new StringBuilder
    sb.append(
      s"""cseed AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM $trainSrc)
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |          LIMIT $nCentroids),
         |c0 AS (SELECT vec_id AS c_id, i, v AS cv FROM $trainSrc
         |       WHERE vec_id IN (SELECT vec_id FROM cseed))""".stripMargin)
    for (it <- 1 to lloydIters) {
      val prev = s"c${it - 1}"
      sb.append(s""",
        |n$prev AS (SELECT c_id, sqrt(CAST(SUM(cv*cv) AS DOUBLE)) AS cnrm
        |           FROM $prev GROUP BY c_id),
        |d$it AS (SELECT f.vec_id, c.c_id, SUM(f.v * c.cv) AS dot
        |         FROM $trainSrc f JOIN $prev c ON c.i = f.i
        |         GROUP BY f.vec_id, c.c_id),
        |a$it AS (SELECT vec_id, c_id AS cell FROM (
        |           SELECT d$it.vec_id, d$it.c_id,
        |             row_number() OVER (PARTITION BY d$it.vec_id
        |               ORDER BY CAST(dot AS DOUBLE)/(n.nrm * cn.cnrm) DESC,
        |                        d$it.c_id) AS arn
        |           FROM d$it JOIN norms n ON n.vec_id = d$it.vec_id
        |                JOIN n$prev cn ON cn.c_id = d$it.c_id) WHERE arn = 1),
        |c$it AS (SELECT a$it.cell AS c_id, f.i,
        |           CAST(floor(CAST(SUM(f.v) AS DOUBLE)/COUNT(*)) AS BIGINT) AS cv
        |         FROM a$it JOIN $trainSrc f USING (vec_id)
        |         GROUP BY a$it.cell, f.i)""".stripMargin)
    }
    val last = s"c$lloydIters"
    sb.append(s""",
      |cnf AS (SELECT c_id, sqrt(CAST(SUM(cv*cv) AS DOUBLE)) AS cnrm
      |        FROM $last GROUP BY c_id),
      |fd AS (SELECT f.vec_id, c.c_id, SUM(f.v * c.cv) AS dot
      |       FROM flat f JOIN $last c ON c.i = f.i
      |       GROUP BY f.vec_id, c.c_id),
      |ranked AS (SELECT vec_id, c_id AS cell, arn FROM (
      |             SELECT fd.vec_id, fd.c_id,
      |               row_number() OVER (PARTITION BY fd.vec_id
      |                 ORDER BY CAST(dot AS DOUBLE)/(n.nrm * cn.cnrm) DESC,
      |                          fd.c_id) AS arn
      |             FROM fd JOIN norms n ON n.vec_id = fd.vec_id
      |                  JOIN cnf cn ON cn.c_id = fd.c_id) WHERE arn <= $nprobe),
      |assign AS (SELECT vec_id, cell FROM ranked WHERE arn = 1),
      |probes AS (SELECT vec_id, cell FROM ranked)""".stripMargin)
    sb.toString
  }

  /** Two-level (coarse-quantizer) assignment CTEs — mirrors
    * Similarity.twoLevelAssign / singleCell: ivfCte's training, then
    * coarse = the `coarse` smallest-c_id fine centroids, fine→group
    * and both probe argmaxes replayed with the same tie rules. Ends
    * with `assign2` = each vector's two-level cell — the assignment
    * the within-cell family (q49/q141/q146) and q148 gate on.
    */
  private def twoLevelPrefixCte(nCentroids: Int, lloydIters: Int,
      coarse: Int): String = {
    val last = s"c$lloydIters"
    s"""${ivfCte(nCentroids, lloydIters, nprobe = 1)},
       |gsel AS (SELECT DISTINCT c_id FROM $last ORDER BY c_id LIMIT $coarse),
       |gc AS (SELECT c.c_id AS g_id, c.i, c.cv
       |       FROM $last c JOIN gsel ON gsel.c_id = c.c_id),
       |gn AS (SELECT g_id, sqrt(CAST(SUM(cv*cv) AS DOUBLE)) AS gnrm
       |       FROM gc GROUP BY g_id),
       |fgd AS (SELECT f.c_id, g.g_id, SUM(f.cv * g.cv) AS dot
       |        FROM $last f JOIN gc g ON g.i = f.i GROUP BY f.c_id, g.g_id),
       |f2g AS (SELECT c_id, g_id FROM (
       |          SELECT fgd.c_id, fgd.g_id,
       |            row_number() OVER (PARTITION BY fgd.c_id
       |              ORDER BY CAST(dot AS DOUBLE)/(cn.cnrm * gn.gnrm) DESC,
       |                       fgd.g_id) AS grn
       |          FROM fgd JOIN cnf cn ON cn.c_id = fgd.c_id
       |               JOIN gn ON gn.g_id = fgd.g_id) WHERE grn = 1),
       |vgd AS (SELECT f.vec_id, g.g_id, SUM(f.v * g.cv) AS dot
       |        FROM flat f JOIN gc g ON g.i = f.i GROUP BY f.vec_id, g.g_id)""".stripMargin
  }

  /** The probe-dependent tail of [[twoLevelPrefixCte]]: `vg$suffix` =
    * each vector's top-`coarseProbe` groups, `assign2$suffix` = its
    * within-probed-groups argmax cell. Suffixed so q155 can replay
    * several probe counts over ONE shared prefix.
    */
  private def probeAssignCte(coarseProbe: Int, suffix: String = ""): String =
    s"""vg$suffix AS (SELECT vec_id, g_id FROM (
       |         SELECT vgd.vec_id, vgd.g_id,
       |           row_number() OVER (PARTITION BY vgd.vec_id
       |             ORDER BY CAST(dot AS DOUBLE)/(n.nrm * gn.gnrm) DESC,
       |                      vgd.g_id) AS grn
       |         FROM vgd JOIN norms n ON n.vec_id = vgd.vec_id
       |              JOIN gn ON gn.g_id = vgd.g_id) WHERE grn <= $coarseProbe),
       |assign2$suffix AS (SELECT vec_id, cell FROM (
       |  SELECT fd.vec_id, fd.c_id AS cell,
       |    row_number() OVER (PARTITION BY fd.vec_id
       |      ORDER BY CAST(fd.dot AS DOUBLE)/(n.nrm * cn.cnrm) DESC,
       |               fd.c_id) AS crn
       |  FROM fd
       |  JOIN vg$suffix vg ON vg.vec_id = fd.vec_id
       |  JOIN f2g ON f2g.c_id = fd.c_id AND f2g.g_id = vg.g_id
       |  JOIN norms n ON n.vec_id = fd.vec_id
       |  JOIN cnf cn ON cn.c_id = fd.c_id) WHERE crn = 1)""".stripMargin

  private def twoLevelCte(nCentroids: Int, lloydIters: Int,
      coarse: Int, coarseProbe: Int): String =
    s"""${twoLevelPrefixCte(nCentroids, lloydIters, coarse)},
       |${probeAssignCte(coarseProbe)}""".stripMargin

  /** BPE training CTEs — mirrors Bpe.bpeTrain: word-frequency table,
    * per-character symbolization, then `iters` unrolled merge
    * iterations (pair counts → totally-ordered best pair → greedy
    * left-to-right rewrite via the even-offset island rule).
    */
  private def bpeCte(iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""bw AS MATERIALIZED (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |  SELECT unnest(string_split($norm, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |bs0 AS MATERIALIZED (SELECT word, n, CAST(i AS BIGINT) AS pos,
         |          substr(word, CAST(i AS INTEGER), 1) AS sym
         |        FROM (SELECT word, n,
         |              unnest(generate_series(1, length(word))) AS i
         |              FROM bw))""".stripMargin)
    for (r <- 1 to iters) {
      val p = s"bs${r - 1}"
      sb.append(s""",
        |bpc$r AS (SELECT x.sym AS a, y.sym AS b,
        |            CAST(SUM(x.n) AS BIGINT) AS cnt
        |          FROM $p x JOIN $p y
        |            ON y.word = x.word AND y.pos = x.pos + 1
        |          GROUP BY x.sym, y.sym),
        |bbp$r AS MATERIALIZED (SELECT a, b, cnt FROM bpc$r
        |          ORDER BY cnt DESC, a, b LIMIT 1),
        |bmt$r AS (SELECT s.word, s.pos FROM $p s JOIN $p t
        |          ON t.word = s.word AND t.pos = s.pos + 1
        |          WHERE s.sym = (SELECT a FROM bbp$r)
        |            AND t.sym = (SELECT b FROM bbp$r)),
        |bkp$r AS MATERIALIZED (SELECT word, pos FROM (
        |            SELECT word, pos,
        |              min(pos) OVER (PARTITION BY word, island) AS ist
        |            FROM (SELECT word, pos,
        |                    SUM(CASE WHEN prev IS NULL OR pos > prev + 1
        |                        THEN 1 ELSE 0 END)
        |                      OVER (PARTITION BY word ORDER BY pos
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |                  FROM (SELECT word, pos,
        |                          lag(pos) OVER (PARTITION BY word
        |                            ORDER BY pos) AS prev
        |                        FROM bmt$r)))
        |          WHERE (pos - ist) % 2 = 0),
        |bs$r AS MATERIALIZED (SELECT word, n,
        |           CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
        |             AS BIGINT) AS pos, sym FROM (
        |           SELECT s.word, s.n, s.pos,
        |             CASE WHEN k.pos IS NOT NULL
        |                  THEN s.sym || (SELECT b FROM bbp$r)
        |                  ELSE s.sym END AS sym
        |           FROM $p s
        |           LEFT JOIN bkp$r k ON k.word = s.word AND k.pos = s.pos
        |           LEFT JOIN bkp$r c ON c.word = s.word AND c.pos + 1 = s.pos
        |           WHERE c.pos IS NULL))""".stripMargin)
    }
    sb.toString
  }

  /** Unigram-LM word table + seed vocab — mirrors Unigram.wordTable /
    * seedPieces: training-eligible words (len ≤ 12), every substring
    * of length 1..4 occurrence-weighted, all single chars + the top
    * 384 multi-char pieces by (freq desc, piece asc) at freq ≥ 2.
    */
  private val unigramBaseCtes =
    s"""ugw AS MATERIALIZED (SELECT tok AS word,
       |    CAST(COUNT(*) AS BIGINT) AS n, length(tok) AS len FROM (
       |    SELECT unnest(string_split($norm, ' ')) AS tok FROM documents)
       |  WHERE length(tok) > 0 AND length(tok) <= 12 GROUP BY tok),
       |ugsub AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS freq FROM (
       |    SELECT n,
       |      substr(word, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece
       |    FROM (SELECT word, n, i,
       |            unnest(generate_series(1, least(4, len - i + 1))) AS l
       |          FROM (SELECT word, n, len,
       |                  unnest(generate_series(1, len)) AS i FROM ugw)))
       |  GROUP BY piece),
       |ugseed AS MATERIALIZED (
       |  SELECT piece, freq FROM ugsub WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq FROM ugsub
       |    WHERE length(piece) >= 2 AND freq >= 2
       |    ORDER BY freq DESC, piece LIMIT 384))""".stripMargin

  /** NB-smoothed micro-nat scores over a (piece, freq) table —
    * mirrors Unigram.scoresOf: floor(1e6·ln((c+1)/(T+V))).
    */
  private def unigramScoreCte(name: String, src: String): String =
    s"""$name AS MATERIALIZED (SELECT c.piece, c.freq AS c,
       |    CAST(floor(1000000.0 * ln(CAST(c.freq + 1 AS DOUBLE) /
       |      CAST(t.tot + t.nv AS DOUBLE))) AS BIGINT) AS lnp
       |  FROM $src c CROSS JOIN (SELECT CAST(SUM(freq) AS BIGINT) AS tot,
       |      CAST(COUNT(*) AS BIGINT) AS nv FROM $src) t)""".stripMargin

  /** One unrolled Viterbi E-step — mirrors Unigram.viterbi/emCounts:
    * forward DP `${pre}d1..d12` (integer micro-nat sums, exact MAX),
    * chosen-k tables `${pre}c*` (ties → LONGEST last piece), boundary
    * chains `${pre}b*` walked from each word's length down, and the
    * path piece counts `${pre}cnt`. Word length ≤ 12 and piece length
    * ≤ 4 bound the unroll (the lloyd/bkp CTE discipline).
    */
  private def unigramViterbiCtes(pre: String, vs: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"${pre}d0 AS (SELECT word, n, len, CAST(0 AS BIGINT) AS s FROM ugw)")
    for (j <- 1 to 12) {
      val arms = (1 to math.min(4, j)).map { k =>
        s"""    SELECT d.word, d.n, d.len, d.s + v.lnp AS s
           |    FROM ${pre}d${j - k} d JOIN $vs v
           |      ON v.piece = substr(d.word, ${j - k + 1}, $k)
           |    WHERE d.len >= $j""".stripMargin
      }.mkString("\n    UNION ALL\n")
      sb.append(s""",
        |${pre}d$j AS MATERIALIZED (SELECT word, n, len, MAX(s) AS s FROM (
        |$arms) GROUP BY word, n, len)""".stripMargin)
    }
    for (j <- 1 to 12) {
      val arms = (1 to math.min(4, j)).map { k =>
        s"""    SELECT d.word, $k AS k
           |    FROM ${pre}d${j - k} d
           |    JOIN ${pre}d$j t ON t.word = d.word
           |    JOIN $vs v ON v.piece = substr(d.word, ${j - k + 1}, $k)
           |    WHERE d.s + v.lnp = t.s""".stripMargin
      }.mkString("\n    UNION ALL\n")
      sb.append(s""",
        |${pre}c$j AS MATERIALIZED (SELECT word, MAX(k) AS k FROM (
        |$arms) GROUP BY word)""".stripMargin)
    }
    sb.append(s""",
      |${pre}b12 AS MATERIALIZED (SELECT word FROM ugw WHERE len = 12)""".stripMargin)
    for (j <- 11 to 1 by -1) {
      val arms = Seq(s"    SELECT word FROM ugw WHERE len = $j") ++
        ((j + 1) to math.min(12, j + 4)).map { j2 =>
          s"""    SELECT b.word FROM ${pre}b$j2 b
             |    JOIN ${pre}c$j2 c ON c.word = b.word AND c.k = ${j2 - j}""".stripMargin
        }
      sb.append(s""",
        |${pre}b$j AS MATERIALIZED (
        |${arms.mkString("\n    UNION\n")})""".stripMargin)
    }
    val cntArms = (1 to 12).map { j =>
      s"""    SELECT substr(w.word, $j - c.k + 1, c.k) AS piece, w.n
         |    FROM ${pre}b$j b JOIN ${pre}c$j c ON c.word = b.word
         |    JOIN ugw w ON w.word = b.word""".stripMargin
    }.mkString("\n    UNION ALL\n")
    sb.append(s""",
      |${pre}cnt AS MATERIALIZED (SELECT piece,
      |    CAST(SUM(n) AS BIGINT) AS freq FROM (
      |$cntArms) GROUP BY piece)""".stripMargin)
    sb.toString
  }

  /** The full unigram training replay — mirrors Unigram.unigramTrain:
    * seed → EM round 1 → EM round 2 → LOSS-DELTA prune (chars + top
    * 96 used multi-char by removal cost delta = freq·(lnp − Σ char
    * lnp) under the round-2 scores — Unigram.pruneByLossDelta) →
    * final E-step. `ugfin(piece, cnt, lnp)`.
    */
  private lazy val unigramTrainCtes: String =
    s"""$unigramBaseCtes,
       |${unigramScoreCte("ugs1", "ugseed")},
       |${unigramViterbiCtes("uge1", "ugs1")},
       |ugf1 AS (SELECT v.piece, COALESCE(c.freq, 0) AS freq
       |         FROM ugseed v LEFT JOIN uge1cnt c USING (piece)),
       |${unigramScoreCte("ugs2", "ugf1")},
       |${unigramViterbiCtes("uge2", "ugs2")},
       |ugf2 AS (SELECT v.piece, COALESCE(c.freq, 0) AS freq
       |         FROM ugseed v LEFT JOIN uge2cnt c USING (piece)),
       |${unigramScoreCte("ugsd", "ugf2")},
       |ugdel AS (SELECT s.piece, s.c AS freq,
       |    s.c * (s.lnp - cs.sumc) AS delta
       |  FROM ugsd s JOIN (
       |    SELECT e.piece, CAST(SUM(ch.lnp) AS BIGINT) AS sumc
       |    FROM (SELECT piece, substr(piece, CAST(i AS INTEGER), 1) AS c1
       |          FROM (SELECT piece,
       |                  unnest(generate_series(1, length(piece))) AS i
       |                FROM ugf2 WHERE length(piece) >= 2)) e
       |    JOIN ugsd ch ON ch.piece = e.c1
       |    GROUP BY e.piece) cs ON cs.piece = s.piece
       |  WHERE length(s.piece) >= 2 AND s.c > 0),
       |ugpr AS MATERIALIZED (
       |  SELECT piece, freq FROM ugf2 WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq FROM ugdel
       |    ORDER BY delta DESC, piece LIMIT 96)),
       |${unigramScoreCte("ugs3", "ugpr")},
       |${unigramViterbiCtes("uge3", "ugs3")},
       |ugfin AS (SELECT p.piece, COALESCE(c.freq, 0) AS cnt, s.lnp
       |          FROM ugpr p LEFT JOIN uge3cnt c USING (piece)
       |          JOIN ugs3 s ON s.piece = p.piece)""".stripMargin

  /** Suffix-array CTEs — an INDEPENDENT construction of the arrays
    * graft.operators.SuffixArray builds: token positions per doc,
    * Manber–Myers dense-rank prefix doubling (OracleDoubling levels,
    * −1 past-end padding), the suffix array as row_number over
    * (final rank, doc_id, pos), the adjacent-pair LCP descent down
    * the SAME levels, and the remainder clamp. The engine does not
    * double (it sorts on 5-token windows plus the span-group member
    * order), so a hash match checks one algorithm against another.
    * Callers read `slcp(idx, l, a_doc, a_pos, b_doc, b_pos)` and
    * `sfull(idx, doc_id, pos, lcp_prev)`. The engine is exact at any
    * doc length; this static unroll is exact only up to
    * 2^OracleDoubling-token docs, so `sguard` ERRORS (never silently
    * truncates) past that bound — consumers must keep
    * `WHERE (SELECT ok FROM sguard) = 0` (or
    * equivalent) so the guard is evaluated.
    */
  private def suffixCtesWhere(docFilter: String): String =
    suffixCtesOver(
      s"SELECT doc_id, text FROM documents WHERE ($docFilter)")

  /** [[suffixCtesWhere]] over an ARBITRARY corpus subquery exposing
    * (doc_id, text) — the q248 hot-group gate plants its synthesized
    * boilerplate docs via a generate_series UNION here.
    */
  private def suffixCtesOver(corpusSql: String): String = {
    val top = graft.operators.SuffixArray.OracleDoubling
    val bound = 1L << top
    val sb = new StringBuilder
    sb.append(
      s"""sdoc AS (SELECT doc_id, string_split($norm, ' ') AS toks
         |         FROM ($corpusSql)
         |         WHERE length($norm) > 0),
         |spos AS MATERIALIZED (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    toks[CAST(i AS INTEGER)] AS tok
         |  FROM (SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks))) AS i FROM sdoc)),
         |slen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM sdoc),
         |sguard AS (SELECT CASE WHEN MAX(n) > $bound THEN
         |      CAST(error('suffix oracle unrolls $top doubling levels, ' ||
         |        'exact only for docs <= $bound tokens; corpus max is ' ||
         |        MAX(n)) AS BIGINT)
         |    ELSE 0 END AS ok FROM slen),
         |sr0 AS MATERIALIZED (SELECT p.doc_id, p.pos, d.r
         |  FROM spos p JOIN (SELECT tok,
         |      CAST(dense_rank() OVER (ORDER BY tok) AS BIGINT) AS r
         |    FROM (SELECT DISTINCT tok FROM spos)) d USING (tok))""".stripMargin)
    for (m <- 1 to top) {
      val shift = 1L << (m - 1)
      sb.append(s""",
        |sr$m AS MATERIALIZED (SELECT doc_id, pos,
        |    CAST(dense_rank() OVER (ORDER BY r, r2) AS BIGINT) AS r
        |  FROM (SELECT a.doc_id, a.pos, a.r, COALESCE(b.r, -1) AS r2
        |        FROM sr${m - 1} a LEFT JOIN sr${m - 1} b
        |          ON b.doc_id = a.doc_id AND b.pos = a.pos + $shift))""".stripMargin)
    }
    sb.append(s""",
      |ssa AS MATERIALIZED (SELECT
      |    CAST(row_number() OVER (ORDER BY r, doc_id, pos) AS BIGINT)
      |      AS idx,
      |    doc_id, pos
      |  FROM sr$top),
      |sp${top + 1} AS (SELECT a.idx, a.doc_id AS a_doc, a.pos AS a_pos,
      |        b.doc_id AS b_doc, b.pos AS b_pos, CAST(0 AS BIGINT) AS l
      |      FROM ssa a JOIN ssa b ON b.idx = a.idx + 1)""".stripMargin)
    for (m <- top to 0 by -1) {
      val shift = 1L << m
      sb.append(s""",
        |sp$m AS (SELECT p.idx, p.a_doc, p.a_pos, p.b_doc, p.b_pos,
        |    CASE WHEN COALESCE(ra.r, -1) = COALESCE(rb.r, -2)
        |         THEN p.l + $shift ELSE p.l END AS l
        |  FROM sp${m + 1} p
        |  LEFT JOIN sr$m ra ON ra.doc_id = p.a_doc
        |    AND ra.pos = p.a_pos + p.l
        |  LEFT JOIN sr$m rb ON rb.doc_id = p.b_doc
        |    AND rb.pos = p.b_pos + p.l)""".stripMargin)
    }
    sb.append(s""",
      |slcp AS MATERIALIZED (SELECT p.idx,
      |    LEAST(p.l, la.n - p.a_pos + 1, lb.n - p.b_pos + 1) AS l,
      |    p.a_doc, p.a_pos, p.b_doc, p.b_pos
      |  FROM sp0 p JOIN slen la ON la.doc_id = p.a_doc
      |  JOIN slen lb ON lb.doc_id = p.b_doc),
      |sfull AS (SELECT s.idx, s.doc_id, s.pos,
      |    CAST(COALESCE(c.l, 0) AS BIGINT) AS lcp_prev
      |  FROM ssa s LEFT JOIN (SELECT idx + 1 AS idx, l FROM slcp) c
      |  USING (idx))""".stripMargin)
    sb.toString
  }

  private lazy val suffixCtes: String = suffixCtesWhere("TRUE")

  /** Logistic-regression CTEs — mirrors graft.operators.Logistic:
    * nbCtes' source labels and md5 buckets, the 5 capped integer
    * features, then `Logistic.Steps` unrolled full-batch gradient
    * steps (exact integer margins, floor-through-double sigmoid and
    * learning-rate division — the shared spellings). Callers read
    * `lrw<Steps>(j, w)` (final weights) and `lrsm(doc_id, cls, margin)`
    * (held-out margins).
    */
  /** The labeled slice + the 5 SURFACE features — `lrlab` and
    * `lrfw(doc_id, cls, b, f0..f4)`, the base of both LR vectors.
    */
  private lazy val lrFeatBase: String =
    s"""lrlab AS (SELECT doc_id,
       |    CASE WHEN source IN ('src0','src1','src2') THEN 1 ELSE 0 END
       |      AS cls,
       |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % 10 AS b,
       |    $norm AS norm
       |  FROM documents
       |  WHERE source IN ('src0','src1','src2','src3','src4','src5')),
       |lrfw AS MATERIALIZED (SELECT doc_id, cls, b,
       |    CAST(1 AS BIGINT) AS f0,
       |    LEAST(n_tok, 100) AS f1,
       |    LEAST(n_uniq, 100) AS f2,
       |    LEAST(n_chars // GREATEST(n_tok, 1), 20) AS f3,
       |    (100 * n_uniq) // GREATEST(n_tok, 1) AS f4
       |  FROM (SELECT doc_id, cls, b,
       |      CAST(CASE WHEN length(norm) = 0 THEN 0
       |           ELSE len(string_split(norm, ' ')) END AS BIGINT) AS n_tok,
       |      CAST(CASE WHEN length(norm) = 0 THEN 0
       |           ELSE len(list_distinct(string_split(norm, ' '))) END
       |        AS BIGINT) AS n_uniq,
       |      CAST(length(norm) AS BIGINT) AS n_chars
       |    FROM lrlab))""".stripMargin

  /** The unrolled gradient-descent chain over a feature table
    * `${pre}fw(doc_id, cls, b, f0..f{d-1})`: `Logistic.Steps` steps
    * of exact integer margins, floor-through-double sigmoid and
    * learning-rate division (the shared spellings). Emits
    * `${pre}w<Steps>(j, w)` (final weights) and `${pre}sm(doc_id,
    * cls, margin)` (held-out margins).
    */
  private def lrStepCtes(pre: String, d: Int): String = {
    val sb = new StringBuilder
    val fw = s"${pre}fw"
    sb.append(
      s"""${pre}tr AS MATERIALIZED (${(0 until d).map(j =>
            s"SELECT doc_id, cls, CAST($j AS BIGINT) AS j, f$j AS v " +
              s"FROM $fw WHERE b <= 7").mkString("\n  UNION ALL ")}),
         |${pre}n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n
         |        FROM $fw WHERE b <= 7),
         |${pre}w0 AS (SELECT CAST(unnest([${(0 until d).mkString(",")}])
         |           AS BIGINT) AS j,
         |         CAST(0 AS BIGINT) AS w)""".stripMargin)
    for (s <- 1 to graft.operators.Logistic.Steps) {
      val p = s"${pre}w${s - 1}"
      sb.append(s""",
        |${pre}m$s AS (SELECT f.doc_id, f.cls,
        |            CAST(SUM(f.v * w.w) AS BIGINT) AS mm
        |          FROM ${pre}tr f JOIN $p w ON w.j = f.j
        |          GROUP BY f.doc_id, f.cls),
        |${pre}p$s AS (SELECT doc_id,
        |            CAST(floor(1000000.0 / (1.0 +
        |              exp(-(CAST(mm AS DOUBLE) / 1000000.0)))) AS BIGINT)
        |            - cls * 1000000 AS resid
        |          FROM ${pre}m$s),
        |${pre}g$s AS (SELECT f.j, CAST(SUM(p.resid * f.v) AS BIGINT) AS g
        |          FROM ${pre}tr f JOIN ${pre}p$s p ON p.doc_id = f.doc_id
        |          GROUP BY f.j),
        |${pre}w$s AS MATERIALIZED (SELECT w.j,
        |            w.w - CAST(floor(CAST(g.g AS DOUBLE) /
        |              (CAST(t.n AS DOUBLE) * ${graft.operators.Logistic.LrDiv})) AS BIGINT) AS w
        |          FROM $p w JOIN ${pre}g$s g ON g.j = w.j CROSS JOIN ${pre}n t)""".stripMargin)
    }
    val last = s"${pre}w${graft.operators.Logistic.Steps}"
    sb.append(s""",
      |${pre}ev AS (${(0 until d).map(j =>
           s"SELECT doc_id, cls, CAST($j AS BIGINT) AS j, f$j AS v " +
             s"FROM $fw WHERE b >= 8").mkString("\n  UNION ALL ")}),
      |${pre}sm AS (SELECT e.doc_id, e.cls,
      |           CAST(SUM(e.v * w.w) AS BIGINT) AS margin
      |         FROM ${pre}ev e JOIN $last w ON w.j = e.j
      |         GROUP BY e.doc_id, e.cls)""".stripMargin)
    sb.toString
  }

  private lazy val lrCtes: String =
    s"""$lrFeatBase,
       |${lrStepCtes("lr", 5)}""".stripMargin

  /** The EXTENDED-vector chain (q238-q240) — mirrors
    * Logistic.featuresExtended: the surface features joined with the
    * engine's own quality signals, each renormalized to the shared
    * ≤ 100 integer scale: f5 = capped deci-nat bigram-LM avg NLL
    * (q198's lmsc verbatim), f6 = Gopher rule passes (q77's four
    * booleans, lx-prefixed spelling over the window family's `tok`),
    * f7 = duplicated-span token percent (q111's cov/lens). Composes
    * lmCtes + tokenWindowsCte + spanCoverageCtes, then the shared
    * gradient chain at d = 8 under the `lrx` prefix.
    */
  private lazy val lrxCtes: String =
    s"""${lmCtes(lmRefFilter)},
       |$tokenWindowsCte,
       |$spanCoverageCtes,
       |$lrFeatBase,
       |lxg AS (SELECT doc_id,
       |    CAST((n_words >= 50 AND n_words <= 100000) AS BIGINT) +
       |    CAST((mwl >= 3000000 AND mwl <= 10000000) AS BIGINT) +
       |    CAST((ufm >= 300000) AS BIGINT) +
       |    CAST((stop_count >= 2) AS BIGINT) AS gopher_ok
       |  FROM (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |      CAST(CASE WHEN n_words = 0 THEN 0
       |        ELSE round(1e6 * total_len / n_words) END AS BIGINT) AS mwl,
       |      CAST(CASE WHEN n_words = 0 THEN 0
       |        ELSE round(1e6 * n_uniq / n_words) END AS BIGINT) AS ufm,
       |      CAST(stop_count AS BIGINT) AS stop_count
       |    FROM (SELECT doc_id, len(toks) AS n_words,
       |        COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
       |          AS total_len,
       |        len(list_distinct(toks)) AS n_uniq,
       |        len(list_filter(toks, x -> x IN ('the','a','an','of','to',
       |          'in','and','is','be','that'))) AS stop_count
       |      FROM (SELECT doc_id,
       |          list_filter(string_split($norm, ' '),
       |            x -> length(x) > 0) AS toks
       |        FROM documents)))),
       |lrxfw AS MATERIALIZED (SELECT f.doc_id, f.cls, f.b,
       |    f.f0, f.f1, f.f2, f.f3, f.f4,
       |    LEAST(COALESCE(lm.avg_nll_micro, 0) // 100000, 100) AS f5,
       |    COALESCE(g.gopher_ok, 0) AS f6,
       |    CASE WHEN l.n_tokens IS NULL THEN 0
       |      ELSE (100 * COALESCE(c.dup_tokens, 0)) // l.n_tokens END
       |      AS f7
       |  FROM lrfw f
       |  LEFT JOIN lmsc lm ON lm.doc_id = f.doc_id
       |  LEFT JOIN lxg g ON g.doc_id = f.doc_id
       |  LEFT JOIN lens l ON l.doc_id = f.doc_id
       |  LEFT JOIN cov c ON c.doc_id = f.doc_id),
       |${lrStepCtes("lrx", 8)}""".stripMargin

  /** Product-quantization CTEs — mirrors Similarity.pqEncode: vectors
    * of width m·dsub split into m quantized subvectors; per-subspace
    * k-means seeded from the ksub md5-first vectors (the
    * trainCentroids draw), `iters` Lloyd steps
    * of exact-integer squared-L2 assignment (ties: code asc) and
    * floor(sum/count) codeword update; `penc` = final (vec_id, sub,
    * code, qerr) encoding.
    */
  private def pqCte(m: Int, dsub: Int, ksub: Int, iters: Int): String = {
    val dim = m * dsub
    val sb = new StringBuilder
    sb.append(
      s"""pok AS (SELECT vec_id FROM embeddings WHERE len(embedding) = $dim),
         |sflat AS (SELECT f.vec_id, CAST((f.i - 1) // $dsub AS INTEGER) AS sub,
         |            (f.i - 1) % $dsub AS j, f.v
         |          FROM flat f JOIN pok USING (vec_id)),
         |pseed AS (SELECT vec_id FROM pok
         |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |          LIMIT $ksub),
         |p0 AS (SELECT sub, vec_id AS c_id, j, v AS cv
         |       FROM sflat WHERE vec_id IN (SELECT vec_id FROM pseed))""".stripMargin)
    for (it <- 1 to iters) {
      val prev = s"p${it - 1}"
      sb.append(s""",
        |pd$it AS (SELECT s.vec_id, s.sub, c.c_id,
        |            CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS qerr
        |          FROM sflat s JOIN $prev c ON c.sub = s.sub AND c.j = s.j
        |          GROUP BY s.vec_id, s.sub, c.c_id),
        |pa$it AS (SELECT vec_id, sub, c_id FROM (
        |            SELECT vec_id, sub, c_id,
        |              row_number() OVER (PARTITION BY vec_id, sub
        |                ORDER BY qerr, c_id) AS arn FROM pd$it)
        |          WHERE arn = 1),
        |p$it AS (SELECT s.sub, a.c_id, s.j,
        |           CAST(floor(CAST(SUM(s.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
        |         FROM pa$it a JOIN sflat s
        |           ON s.vec_id = a.vec_id AND s.sub = a.sub
        |         GROUP BY s.sub, a.c_id, s.j)""".stripMargin)
    }
    val last = s"p$iters"
    sb.append(s""",
      |pef AS (SELECT s.vec_id, s.sub, c.c_id,
      |          CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS qerr
      |        FROM sflat s JOIN $last c ON c.sub = s.sub AND c.j = s.j
      |        GROUP BY s.vec_id, s.sub, c.c_id),
      |penc AS (SELECT vec_id, sub, c_id AS code, qerr FROM (
      |           SELECT vec_id, sub, c_id, qerr,
      |             row_number() OVER (PARTITION BY vec_id, sub
      |               ORDER BY qerr, c_id) AS arn FROM pef)
      |         WHERE arn = 1)""".stripMargin)
    sb.toString
  }

  /** dHash CTEs — mirrors Multimodal.imageDHashes over the synthesized
    * image store: per image (doc_id % 3 = 0, w = 4 + id%5,
    * h = 3 + id%4), the 9x8 luma grid sampled at (gx·w div 9,
    * gy·h div 8), integer BT.601 luma from the synthesis formulas,
    * bit (gy·8 + gx) = 1 iff right neighbor's luma is greater, packed
    * into 32-bit halves (no BIGINT shift ever reaches bit 63).
    * Exposes `dh(media_id, dhash_lo, dhash_hi)`.
    */
  private lazy val dhashBaseCte: String =
    """dimg AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS w,
      |           3 + doc_id % 4 AS h
      |         FROM documents WHERE doc_id % 3 = 0),
      |dgrid AS (SELECT media_id, gx, gy,
      |    ((gy * h) // 8) * w + (gx * w) // 9 AS p
      |  FROM dimg, (SELECT unnest(generate_series(0, 8)) AS gx),
      |       (SELECT unnest(generate_series(0, 7)) AS gy)),
      |dluma AS (SELECT media_id, gx, gy,
      |    299 * ((media_id + 7 * p) % 256) +
      |    587 * ((2 * media_id + 11 * p) % 256) +
      |    114 * ((5 * media_id + 13 * p) % 256) AS luma
      |  FROM dgrid),
      |dbits AS (SELECT a.media_id, a.gy * 8 + a.gx AS i,
      |    CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
      |  FROM dluma a JOIN dluma n ON n.media_id = a.media_id
      |    AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |dh AS (SELECT media_id,
      |    CAST(SUM(CASE WHEN i < 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS dhash_lo,
      |    CAST(SUM(CASE WHEN i >= 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |      AS dhash_hi
      |  FROM dbits GROUP BY media_id)""".stripMargin

  /** The 2x-UPSCALED twin of [[dhashBaseCte]] (q237's planted
    * near-dups, media_id + 10^7): honest replay of the composed
    * sampling — the upscaled image's pixel (x, y) is the source's
    * (x div 2, y div 2), so the grid sample at (gx·2w div 9,
    * gy·2h div 8) reads source pixel ((gx·2w div 9) div 2,
    * (gy·2h div 8) div 2). Exposes `dhup` with the same shape.
    */
  private lazy val dhashUpCte: String =
    """dgridu AS (SELECT media_id, gx, gy,
      |    (((gy * 2 * h) // 8) // 2) * w + ((gx * 2 * w) // 9) // 2 AS p
      |  FROM dimg, (SELECT unnest(generate_series(0, 8)) AS gx),
      |       (SELECT unnest(generate_series(0, 7)) AS gy)),
      |dlumau AS (SELECT media_id, gx, gy,
      |    299 * ((media_id + 7 * p) % 256) +
      |    587 * ((2 * media_id + 11 * p) % 256) +
      |    114 * ((5 * media_id + 13 * p) % 256) AS luma
      |  FROM dgridu),
      |dbitsu AS (SELECT a.media_id, a.gy * 8 + a.gx AS i,
      |    CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
      |  FROM dlumau a JOIN dlumau n ON n.media_id = a.media_id
      |    AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |dhup AS (SELECT media_id + (SELECT MAX(doc_id) + 1 FROM documents),
      |    CAST(SUM(CASE WHEN i < 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN i >= 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |  FROM dbitsu GROUP BY media_id)""".stripMargin

  /** FRAME-granularity dHash CTEs — mirrors imageDHashes ∘
    * videoFramesAsImages over the synthesized video store: every
    * container frame is an 8x6 BMP whose pixels follow the video
    * synthesis formulas at (media_id, frame_no, p); the frame id is
    * media_id·1000 + frame_no. Exposes `fdh(media_id, dhash_lo,
    * dhash_hi)` and the 2x-upscaled replay `fdhup` (q245's planted
    * near-dups, id + 10^7 — the q237 double-floor sampling at
    * w = 8, h = 6).
    */
  private lazy val dhashFrameCtes: String =
    """fvid AS (SELECT doc_id AS vid,
      |    unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT)))
      |      AS f
      |  FROM documents WHERE doc_id % 3 = 2),
      |fgg AS (SELECT vid, f, gx, gy,
      |    ((gy * 6) // 8) * 8 + (gx * 8) // 9 AS p,
      |    (((gy * 12) // 8) // 2) * 8 + ((gx * 16) // 9) // 2 AS pu
      |  FROM fvid, (SELECT unnest(generate_series(0, 8)) AS gx),
      |       (SELECT unnest(generate_series(0, 7)) AS gy)),
      |flm AS (SELECT vid, f, gx, gy,
      |    299 * ((vid + 17 * f + 7 * p) % 256) +
      |    587 * ((2 * vid + 17 * f + 11 * p + 1) % 256) +
      |    114 * ((5 * vid + 17 * f + 13 * p + 2) % 256) AS luma,
      |    299 * ((vid + 17 * f + 7 * pu) % 256) +
      |    587 * ((2 * vid + 17 * f + 11 * pu + 1) % 256) +
      |    114 * ((5 * vid + 17 * f + 13 * pu + 2) % 256) AS lumau
      |  FROM fgg),
      |fbits AS (SELECT a.vid, a.f, a.gy * 8 + a.gx AS i,
      |    CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit,
      |    CASE WHEN n.lumau > a.lumau THEN 1 ELSE 0 END AS bitu
      |  FROM flm a JOIN flm n ON n.vid = a.vid AND n.f = a.f
      |    AND n.gy = a.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |fdh AS (SELECT vid * 1000 + f AS media_id,
      |    CAST(SUM(CASE WHEN i < 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS dhash_lo,
      |    CAST(SUM(CASE WHEN i >= 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |      AS dhash_hi
      |  FROM fbits GROUP BY vid, f),
      |fdhup AS (SELECT vid * 1000 + f +
      |    (SELECT (MAX(doc_id) + 1) * 1000 FROM documents) AS media_id,
      |    CAST(SUM(CASE WHEN i < 32 AND bitu = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS dhash_lo,
      |    CAST(SUM(CASE WHEN i >= 32 AND bitu = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |      AS dhash_hi
      |  FROM fbits GROUP BY vid, f)""".stripMargin

  /** Perceptual AUDIO-hash CTEs — mirrors audioEnergyHashes over the
    * synthesized WAV store: the PCM stream is regenerated from the
    * synthesis formula (s_i = ((id·1103 + i·52457) mod 65536) −
    * 32768, n = 64 + id mod 64 samples), the 260-point grid reads
    * sample (t·n) div 260, 4-point |amplitude| sums give 65 window
    * energies, sign bits pack into two 32-bit halves. `adhup` is the
    * 2×-rate RESAMPLE replay (q247's planted near-dups, id + max+1):
    * the resampled stream is s'(j) = s(j div 2) with n' = 2n, so its
    * grid point t reads s(((t·2n) div 260) div 2) — the double-floor
    * composition the engine's decode∘resample∘re-encode round trip
    * must land on exactly.
    */
  private lazy val audioHashCtes: String =
    """aud AS (SELECT doc_id AS media_id, 64 + doc_id % 64 AS n
      |        FROM documents WHERE doc_id % 3 = 1),
      |agrid AS (SELECT media_id, t, (t * n) // 260 AS si,
      |    ((t * 2 * n) // 260) // 2 AS su
      |  FROM aud, (SELECT unnest(generate_series(0, 259)) AS t)),
      |aamp AS (SELECT media_id, t,
      |    abs(((media_id * 1103 + si * 52457) % 65536) - 32768) AS a,
      |    abs(((media_id * 1103 + su * 52457) % 65536) - 32768) AS au
      |  FROM agrid),
      |aener AS (SELECT media_id, t // 4 AS i, SUM(a) AS e, SUM(au) AS eu
      |  FROM aamp GROUP BY media_id, t // 4),
      |abits AS (SELECT a.media_id, a.i AS i,
      |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit,
      |    CASE WHEN b.eu > a.eu THEN 1 ELSE 0 END AS bitu
      |  FROM aener a JOIN aener b ON b.media_id = a.media_id
      |    AND b.i = a.i + 1
      |  WHERE a.i < 64),
      |adh AS (SELECT media_id,
      |    CAST(SUM(CASE WHEN i < 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS ahash_lo,
      |    CAST(SUM(CASE WHEN i >= 32 AND bit = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |      AS ahash_hi
      |  FROM abits GROUP BY media_id),
      |adhup AS (SELECT media_id + (SELECT MAX(doc_id) + 1 FROM documents)
      |      AS media_id,
      |    CAST(SUM(CASE WHEN i < 32 AND bitu = 1
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT)
      |      AS ahash_lo,
      |    CAST(SUM(CASE WHEN i >= 32 AND bitu = 1
      |      THEN (CAST(1 AS BIGINT) << (i - 32)) ELSE 0 END) AS BIGINT)
      |      AS ahash_hi
      |  FROM abits GROUP BY media_id)""".stripMargin

  /** Media-feature CTEs — mirrors synthesizeMediaFiles ∘ the REAL
    * MediaCodec decode ∘ stripe features: the decoded streams are
    * REGENERATED here from the pure integer synthesis formulas (the
    * oracle needs no codec), so a hash match proves the engine's
    * encode∘decode round-trip is the identity on real WAV/BMP/
    * BMP-container files. Streams: audio = samples + 32768 (the
    * unsigned PCM16 shift), image = r,g,b channel triples in raster
    * order, video = frame channel streams concatenated (frame f's
    * stream offset = 144f for 8×6 frames). Then per-stripe (t mod 64)
    * integer sums, integer squared norm, double normalize, float
    * cast. `grid` + LEFT JOIN zero-fills stripes past the stream
    * length (a 4×3 image has 36 channel values — stripes 36..63 are
    * zero), matching the Scala zero-initialized accumulator.
    */
  private val mediaFeatCtes =
    """media AS (SELECT doc_id AS media_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |         ELSE 'video' END AS modality
      |  FROM documents),
      |astream AS (SELECT media_id, i AS t,
      |    (media_id * 1103 + i * 52457) % 65536 AS v
      |  FROM (SELECT media_id,
      |          unnest(generate_series(0, 63 + media_id % 64)) AS i
      |        FROM media WHERE modality = 'audio')),
      |ipx AS (SELECT media_id, unnest(generate_series(0,
      |      (4 + media_id % 5) * (3 + media_id % 4) - 1)) AS p
      |  FROM media WHERE modality = 'image'),
      |istream AS (
      |  SELECT media_id, 3*p AS t, (media_id + 7*p) % 256 AS v FROM ipx
      |  UNION ALL
      |  SELECT media_id, 3*p + 1, (2*media_id + 11*p) % 256 FROM ipx
      |  UNION ALL
      |  SELECT media_id, 3*p + 2, (5*media_id + 13*p) % 256 FROM ipx),
      |vfp AS (SELECT media_id, f, unnest(generate_series(0, 47)) AS p
      |  FROM (SELECT media_id,
      |          unnest(generate_series(0, 1 + media_id % 3)) AS f
      |        FROM media WHERE modality = 'video')),
      |vstream AS (
      |  SELECT media_id, 144*f + 3*p AS t,
      |    (media_id + 17*f + 7*p) % 256 AS v FROM vfp
      |  UNION ALL
      |  SELECT media_id, 144*f + 3*p + 1,
      |    (2*media_id + 17*f + 11*p + 1) % 256 FROM vfp
      |  UNION ALL
      |  SELECT media_id, 144*f + 3*p + 2,
      |    (5*media_id + 17*f + 13*p + 2) % 256 FROM vfp),
      |stream AS (SELECT * FROM astream UNION ALL
      |           SELECT * FROM istream UNION ALL
      |           SELECT * FROM vstream),
      |ssum AS (SELECT media_id, t % 64 AS d, CAST(SUM(v) AS BIGINT) AS s
      |  FROM stream GROUP BY media_id, t % 64),
      |grid AS (SELECT media_id, modality,
      |    unnest(generate_series(0, 63)) AS d FROM media),
      |filled AS (SELECT g.media_id, g.modality, g.d, COALESCE(s.s, 0) AS s
      |  FROM grid g LEFT JOIN ssum s ON s.media_id = g.media_id AND s.d = g.d),
      |fnrm AS (SELECT media_id, sqrt(CAST(SUM(s*s) AS DOUBLE)) AS n
      |  FROM filled GROUP BY media_id),
      |feat AS (SELECT f.media_id, f.modality, f.d,
      |    CAST(CASE WHEN n.n > 0 THEN CAST(f.s AS DOUBLE) / n.n
      |         ELSE 0.0 END AS FLOAT) AS f
      |  FROM filled f JOIN fnrm n USING (media_id))""".stripMargin

  private val langScoresCte =
    s"""scored AS (SELECT doc_id, text, lang,
       |  ${stopScore("en")} AS s_en, ${stopScore("de")} AS s_de,
       |  ${stopScore("fr")} AS s_fr, ${stopScore("es")} AS s_es
       |  FROM (SELECT doc_id, text, lang, ' ' || $norm || ' ' AS pad FROM documents))""".stripMargin

  private val langCase =
    """CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
      |     WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
      |     WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
      |     WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
      |     WHEN s_fr >= s_es THEN 'fr'
      |     ELSE 'es' END""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(
    "q20_dedup_exact" ->
      s"""SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM (
         |  SELECT doc_id, md5($norm) AS fp FROM documents
         |) GROUP BY fp ORDER BY fp""".stripMargin,

    "q21_doc_stats" ->
      s"""SELECT doc_id,
         |  CAST($nTokens AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(norm, '[a-z0-9]+'))
         |    + ${classCount("norm", "[.,;:!?]")} AS BIGINT) AS n_subwords,
         |  CAST(length(norm) AS BIGINT) AS n_chars_norm,
         |  CAST(${classCount("norm", "[.,;:!?]")} AS BIGINT) AS n_punct,
         |  CAST(${classCount("norm", "[A-Za-z]")} AS BIGINT) AS n_alpha,
         |  CAST(${classCount("norm", "[0-9]")} AS BIGINT) AS n_digit,
         |  CAST(length(replace(norm, ' ', '')) AS DOUBLE) /
         |    CAST(greatest($nTokens, 1) AS DOUBLE) AS avg_token_len
         |FROM (SELECT doc_id, $norm AS norm FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q22_lang_id" ->
      s"""WITH $langScoresCte
         |SELECT doc_id, $langCase AS pred_lang, lang AS label_lang
         |FROM scored ORDER BY doc_id""".stripMargin,

    "q23_quality" ->
      s"""WITH $qualityCte
         |SELECT doc_id, quality FROM qual ORDER BY doc_id""".stripMargin,

    "q24_fingerprints" ->
      s"SELECT doc_id, md5($norm) AS fp FROM documents ORDER BY doc_id",

    "q25_minhash_sig" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte
         |SELECT doc_id, $sigCols
         |FROM shh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q26_minhash_dups" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql),
         |okb AS (SELECT band, bhash FROM bands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
         |       FROM bands JOIN okb USING (band, bhash)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bb a JOIN bb b
         |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
         |           FROM cands c
         |           JOIN sh a ON a.doc_id = c.id1
         |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |           GROUP BY c.id1, c.id2),
         |j AS (SELECT id1, id2,
         |        CAST(common AS DOUBLE) / CAST(s1.sz + s2.sz - common AS DOUBLE) AS jaccard
         |      FROM common
         |      JOIN sizes s1 ON s1.doc_id = id1
         |      JOIN sizes s2 ON s2.doc_id = id2)
         |SELECT id1, id2, jaccard FROM j WHERE jaccard >= 0.7
         |ORDER BY id1, id2""".stripMargin,

    "q27_ngram_jaccard" -> jaccardSql("TRUE"),

    // TAKEDOWN of the verified-pair store: the odd docs retract from
    // the full-corpus pair table (jaccardPairsRetract — endpoint
    // anti-joins + uncrossed-shingle candidacies) and the oracle is
    // the q27 pipeline over the SURVIVING slice — a hash match proves
    // retract == from-scratch-over-evens including the df-cut
    // candidacy changes
    "q187_jaccard_retract" -> jaccardSql("doc_id % 2 = 0"),

    "q28_simhash" ->
      s"""WITH $simhashSigCte
         |SELECT doc_id, simhash FROM ssig ORDER BY doc_id""".stripMargin,

    "q29_simhash_dups" ->
      s"""WITH $simhashSigCte,
         |$simhashBandsCte,
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |                a.simhash AS s1, b.simhash AS s2
         |         FROM sbb a JOIN sbb b
         |         ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    "q30_knn_brute" ->
      s"""WITH $flatCte,
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |         FROM flat q JOIN flat c ON q.i = c.i
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |         GROUP BY q.vec_id, c.vec_id),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |      FROM cos)
         |SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q31_knn_lsh" ->
      s"""WITH $flatCte,
         |${hplaneCte(4, 8)},
         |pairs AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |          FROM hbb q JOIN hbb c
         |          ON q.tbl = c.tbl AND q.bucket = c.bucket
         |          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |dots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |         FROM pairs p
         |         JOIN flat fq ON fq.vec_id = p.qid
         |         JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |         GROUP BY p.qid, p.cid),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |      FROM cos)
         |SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q34_knn_ivf" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2)},
         |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |          FROM probes q JOIN assign c ON q.cell = c.cell
         |          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |dots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |         FROM pairs p
         |         JOIN flat fq ON fq.vec_id = p.qid
         |         JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |         GROUP BY p.qid, p.cid),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |      FROM cos)
         |SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q35_embed_dups" ->
      s"""WITH $flatCte,
         |${hplaneCte(4, 8)},
         |pairs AS (SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
         |          FROM hbb a JOIN hbb c
         |          ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id < c.vec_id),
         |dots AS (SELECT p.id1, p.id2, SUM(f1.v * f2.v) AS dot
         |         FROM pairs p
         |         JOIN flat f1 ON f1.vec_id = p.id1
         |         JOIN flat f2 ON f2.vec_id = p.id2 AND f2.i = f1.i
         |         GROUP BY p.id1, p.id2),
         |cos AS (SELECT id1, id2, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
         |        FROM dots
         |        JOIN norms na ON na.vec_id = id1
         |        JOIN norms nb ON nb.vec_id = id2)
         |SELECT id1, id2, cos FROM cos WHERE cos >= 0.35
         |ORDER BY id1, id2""".stripMargin,

    "q32_event_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q33_sessionize" ->
      """WITH w AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |n AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS is_new
        |      FROM w),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS session_id FROM n)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q37_media_features" ->
      s"""WITH $mediaFeatCtes
         |SELECT media_id, modality, CAST(d AS INTEGER) AS d, f
         |FROM feat ORDER BY media_id, d""".stripMargin,

    "q38_media_ann" ->
      s"""WITH $mediaFeatCtes,
         |flat AS (SELECT media_id AS vec_id, d + 1 AS i,
         |    CAST(round(CAST(f AS DOUBLE) * 1000000) AS BIGINT) AS v FROM feat),
         |norms AS (SELECT vec_id, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS nrm
         |          FROM flat GROUP BY vec_id),
         |dots AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |         FROM flat q JOIN flat c ON q.i = c.i
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |         GROUP BY q.vec_id, c.vec_id),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |      FROM cos)
         |SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Mirrors Multimodal.wavFeatures over the real WAV store: the
    // decoded PCM aggregates regenerated from the synthesis formula —
    // a hash match proves the RIFF walk + 16-bit LE sample extraction
    "q221_wav_decode" ->
      """WITH aud AS (SELECT doc_id AS media_id FROM documents
        |             WHERE doc_id % 3 = 1),
        |s AS (SELECT media_id,
        |        (media_id * 1103 + i * 52457) % 65536 - 32768 AS v
        |      FROM (SELECT media_id,
        |              unnest(generate_series(0, 63 + media_id % 64)) AS i
        |            FROM aud))
        |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(SUM(v) AS BIGINT) AS s_sum,
        |  CAST(SUM(abs(v)) AS BIGINT) AS s_abs_sum,
        |  CAST(MIN(v) AS BIGINT) AS s_min, CAST(MAX(v) AS BIGINT) AS s_max,
        |  CAST(SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Mirrors Multimodal.bmpFeatures over the real BMP store: decoded
    // pixel channel + integer-luma sums — gates the bottom-up row
    // flip and the 4-byte row padding handling
    "q222_bmp_decode" ->
      """WITH img AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS w,
        |               3 + doc_id % 4 AS h
        |             FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT media_id, w, h,
        |         (media_id + 7*p) % 256 AS r,
        |         (2*media_id + 11*p) % 256 AS g,
        |         (5*media_id + 13*p) % 256 AS b
        |       FROM (SELECT media_id, w, h,
        |               unnest(generate_series(0, w*h - 1)) AS p FROM img))
        |SELECT media_id, CAST(MIN(w) AS BIGINT) AS width,
        |  CAST(MIN(h) AS BIGINT) AS height,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM(299*r + 587*g + 114*b) AS BIGINT) AS luma_sum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Mirrors Multimodal.videoFrameFeatures(everyNth=2): the sampled
    // frames located by the container walk (each frame's length from
    // its own BITMAPFILEHEADER), decoded, per-channel sums
    "q223_frame_decode" ->
      """WITH vid AS (SELECT doc_id AS media_id, 2 + doc_id % 3 AS nf
        |             FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT media_id,
        |         unnest(generate_series(0, CAST(nf - 1 AS BIGINT), 2)) AS f
        |       FROM vid),
        |px AS (SELECT media_id, f,
        |         (media_id + 17*f + 7*p) % 256 AS r,
        |         (2*media_id + 17*f + 11*p + 1) % 256 AS g,
        |         (5*media_id + 17*f + 13*p + 2) % 256 AS b
        |       FROM (SELECT media_id, f,
        |               unnest(generate_series(0, 47)) AS p FROM fr))
        |SELECT media_id, CAST(f AS BIGINT) AS frame_no,
        |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum
        |FROM px GROUP BY media_id, f ORDER BY media_id, f""".stripMargin,

    // Mirrors Logistic.weightsDf: the full Logistic.Steps-step gradient replay
    "q227_lr_weights" ->
      s"""WITH $lrCtes
         |SELECT j, CASE j WHEN 0 THEN 'bias' WHEN 1 THEN 'tok_cap'
         |    WHEN 2 THEN 'uniq_cap' WHEN 3 THEN 'len_ratio'
         |    ELSE 'uniq_pct' END AS feature,
         |  w AS w_micro
         |FROM lrw${graft.operators.Logistic.Steps} ORDER BY j""".stripMargin,

    // Mirrors Logistic.scores: held-out margins under the trained
    // weights, the floor-sigmoid probability, sign decision
    "q228_lr_scores" ->
      s"""WITH $lrCtes
         |SELECT doc_id, margin AS margin_micro,
         |  CAST(floor(1000000.0 / (1.0 +
         |    exp(-(CAST(margin AS DOUBLE) / 1000000.0)))) AS BIGINT)
         |    AS p_micro,
         |  CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS pred_pos
         |FROM lrsm ORDER BY doc_id""".stripMargin,

    // Mirrors Logistic.reliability: q214's binning protocol over the
    // LR margins — the table that compares the two calibrations
    "q229_lr_reliability" ->
      s"""WITH $lrCtes
         |SELECT bin, bin * 200000 AS margin_lo_micro, n_docs, n_pos,
         |  (n_pos * 1000000) // n_docs AS pos_rate_micro
         |FROM (SELECT CAST(floor(CAST(margin AS DOUBLE) / 200000.0)
         |        AS BIGINT) AS bin,
         |      CAST(COUNT(*) AS BIGINT) AS n_docs,
         |      CAST(SUM(cls) AS BIGINT) AS n_pos
         |      FROM lrsm GROUP BY 1)
         |ORDER BY bin""".stripMargin,

    // Mirrors imageDHashes ∘ videoFramesAsImages: per-frame 64-bit
    // dHash, every bit regenerated from the video synthesis formulas
    "q244_frame_dhash" ->
      s"""WITH $dhashFrameCtes
         |SELECT media_id, dhash_lo, dhash_hi FROM fdh
         |ORDER BY media_id""".stripMargin,

    // Mirrors imageNearDuplicates over frames + their 2x upscaled
    // re-encodes: q237's banding/cap/verify arithmetic at frame
    // granularity
    "q245_frame_neardups" ->
      s"""WITH $dhashFrameCtes,
         |fallh AS (SELECT * FROM fdh UNION ALL SELECT * FROM fdhup),
         |fbands AS (SELECT media_id, band,
         |    CASE band
         |      WHEN 0 THEN dhash_lo % 65536
         |      WHEN 1 THEN dhash_lo // 65536
         |      WHEN 2 THEN dhash_hi % 65536
         |      ELSE dhash_hi // 65536 END AS v
         |  FROM fallh, (SELECT unnest(generate_series(0, 3)) AS band)),
         |fcool AS (SELECT band, v FROM fbands GROUP BY band, v
         |          HAVING COUNT(*) <= 64),
         |finc AS (SELECT b.media_id, b.band, b.v
         |         FROM fbands b JOIN fcool c USING (band, v)),
         |fcand AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
         |          FROM finc a JOIN finc b
         |            ON b.band = a.band AND b.v = a.v
         |            AND a.media_id < b.media_id)
         |SELECT c.id1, c.id2,
         |  CAST(bit_count(xor(h1.dhash_lo, h2.dhash_lo)) +
         |       bit_count(xor(h1.dhash_hi, h2.dhash_hi)) AS BIGINT)
         |    AS hamming
         |FROM fcand c JOIN fallh h1 ON h1.media_id = c.id1
         |JOIN fallh h2 ON h2.media_id = c.id2
         |WHERE bit_count(xor(h1.dhash_lo, h2.dhash_lo)) +
         |      bit_count(xor(h1.dhash_hi, h2.dhash_hi)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    // Mirrors Multimodal.audioEnergyHashes over the synthesized WAV
    // store: the whole integer pipeline (grid sample -> window
    // energies -> sign bits) regenerated from the synthesis formulas
    "q246_audio_ahash" ->
      s"""WITH $audioHashCtes
         |SELECT media_id, ahash_lo, ahash_hi FROM adh
         |ORDER BY media_id""".stripMargin,

    // Mirrors audioNearDuplicates over the store + its 2x-rate
    // resamples: q237's banding/cap/verify arithmetic on the audio
    // hashes; the resample replay also proves the upsample invariance
    // (planted pairs land at hamming 0)
    "q247_audio_neardups" ->
      s"""WITH $audioHashCtes,
         |aallh AS (SELECT * FROM adh UNION ALL SELECT * FROM adhup),
         |abands AS (SELECT media_id, band,
         |    CASE band
         |      WHEN 0 THEN ahash_lo % 65536
         |      WHEN 1 THEN ahash_lo // 65536
         |      WHEN 2 THEN ahash_hi % 65536
         |      ELSE ahash_hi // 65536 END AS v
         |  FROM aallh, (SELECT unnest(generate_series(0, 3)) AS band)),
         |acool AS (SELECT band, v FROM abands GROUP BY band, v
         |          HAVING COUNT(*) <= 64),
         |ainc AS (SELECT b.media_id, b.band, b.v
         |         FROM abands b JOIN acool c USING (band, v)),
         |acand AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
         |          FROM ainc a JOIN ainc b
         |            ON b.band = a.band AND b.v = a.v
         |            AND a.media_id < b.media_id)
         |SELECT c.id1, c.id2,
         |  CAST(bit_count(xor(h1.ahash_lo, h2.ahash_lo)) +
         |       bit_count(xor(h1.ahash_hi, h2.ahash_hi)) AS BIGINT)
         |    AS hamming
         |FROM acand c JOIN aallh h1 ON h1.media_id = c.id1
         |JOIN aallh h2 ON h2.media_id = c.id2
         |WHERE bit_count(xor(h1.ahash_lo, h2.ahash_lo)) +
         |      bit_count(xor(h1.ahash_hi, h2.ahash_hi)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    // Gates the hot-group refinement path: q230's collision-free
    // suffix-CTE rebuild over the 2%-sampled base UNION the 10,000
    // planted boilerplate docs (the pathological group)
    "q248_suffix_hot_fold" ->
      s"""WITH ${suffixCtesOver(
        """SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
          |UNION ALL
          |SELECT 90000000 + gs AS doc_id,
          |  'hb0 hb1 hb2 hb3 hb4 hb5 tail' || CAST(gs AS VARCHAR) AS text
          |FROM (SELECT unnest(generate_series(1, 10000)) AS gs)"""
          .stripMargin)}
         |SELECT a_doc AS doc1, a_pos AS pos1, b_doc AS doc2,
         |  b_pos AS pos2, CAST(l AS BIGINT) AS lcp
         |FROM slcp WHERE l >= 5 AND (SELECT ok FROM sguard) = 0
         |ORDER BY doc1, pos1, doc2, pos2""".stripMargin,

    // Mirrors Logistic.weightsDfFor(featuresExtended(…),
    // FeatureNamesExtended): the 8-feature gradient
    // replay with the engine-signal features regenerated from their
    // own oracle families (lmsc / gopher / span coverage)
    "q238_lrx_weights" ->
      s"""WITH $lrxCtes
         |SELECT j, CASE j WHEN 0 THEN 'bias' WHEN 1 THEN 'tok_cap'
         |    WHEN 2 THEN 'uniq_cap' WHEN 3 THEN 'len_ratio'
         |    WHEN 4 THEN 'uniq_pct' WHEN 5 THEN 'lm_nll'
         |    WHEN 6 THEN 'gopher_ok' ELSE 'dup_pct' END AS feature,
         |  w AS w_micro
         |FROM lrxw${graft.operators.Logistic.Steps} ORDER BY j""".stripMargin,

    // Mirrors Logistic.scoresExtended
    "q239_lrx_scores" ->
      s"""WITH $lrxCtes
         |SELECT doc_id, margin AS margin_micro,
         |  CAST(floor(1000000.0 / (1.0 +
         |    exp(-(CAST(margin AS DOUBLE) / 1000000.0)))) AS BIGINT)
         |    AS p_micro,
         |  CAST(CASE WHEN margin > 0 THEN 1 ELSE 0 END AS BIGINT)
         |    AS pred_pos
         |FROM lrxsm ORDER BY doc_id""".stripMargin,

    // Mirrors Logistic.reliabilityExtended (q214's protocol)
    "q240_lrx_reliability" ->
      s"""WITH $lrxCtes
         |SELECT bin, bin * 200000 AS margin_lo_micro, n_docs, n_pos,
         |  (n_pos * 1000000) // n_docs AS pos_rate_micro
         |FROM (SELECT CAST(floor(CAST(margin AS DOUBLE) / 200000.0)
         |        AS BIGINT) AS bin,
         |      CAST(COUNT(*) AS BIGINT) AS n_docs,
         |      CAST(SUM(cls) AS BIGINT) AS n_pos
         |      FROM lrxsm GROUP BY 1)
         |ORDER BY bin""".stripMargin,

    // Mirrors Multimodal.resize(8,5) ∘ bmpFeatures: output pixel
    // (x, y) reads source ((x·w) div 8, (y·h) div 5) of the original
    // synthesis formulas — decode → resample → re-encode → decode
    // collapses to pure index arithmetic
    "q233_bmp_resize" ->
      """WITH img AS (SELECT doc_id AS media_id, 4 + doc_id % 5 AS w,
        |               3 + doc_id % 4 AS h
        |             FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT media_id,
        |         (media_id + 7*sp) % 256 AS r,
        |         (2*media_id + 11*sp) % 256 AS g,
        |         (5*media_id + 13*sp) % 256 AS b
        |       FROM (SELECT media_id,
        |               (((p // 8) * h) // 5) * w + (((p % 8) * w) // 8)
        |                 AS sp
        |             FROM (SELECT media_id, w, h,
        |                     unnest(generate_series(0, 39)) AS p
        |                   FROM img)))
        |SELECT media_id, CAST(8 AS BIGINT) AS width,
        |  CAST(5 AS BIGINT) AS height,
        |  CAST(SUM(r) AS BIGINT) AS r_sum, CAST(SUM(g) AS BIGINT) AS g_sum,
        |  CAST(SUM(b) AS BIGINT) AS b_sum,
        |  CAST(SUM(299*r + 587*g + 114*b) AS BIGINT) AS luma_sum
        |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Mirrors Multimodal.resampleWav(8000) ∘ wavFeatures: 16 kHz
    // mono halves to n div 2 samples, output i reads source 2i
    "q234_wav_resample" ->
      """WITH aud AS (SELECT doc_id AS media_id, 64 + doc_id % 64 AS n
        |             FROM documents WHERE doc_id % 3 = 1),
        |s AS (SELECT media_id,
        |        (media_id * 1103 + (2*i) * 52457) % 65536 - 32768 AS v
        |      FROM (SELECT media_id,
        |              unnest(generate_series(0, n // 2 - 1)) AS i
        |            FROM aud))
        |SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(SUM(v) AS BIGINT) AS s_sum,
        |  CAST(SUM(abs(v)) AS BIGINT) AS s_abs_sum,
        |  CAST(MIN(v) AS BIGINT) AS s_min, CAST(MAX(v) AS BIGINT) AS s_max,
        |  CAST(SUM(CASE WHEN v < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin,

    // Mirrors SuffixArray.repeatedSpans: adjacent suffix pairs with
    // clamped LCP >= 5
    "q230_suffix_repeats" ->
      s"""WITH $suffixCtes
         |SELECT a_doc AS doc1, a_pos AS pos1, b_doc AS doc2,
         |  b_pos AS pos2, CAST(l AS BIGINT) AS lcp
         |FROM slcp WHERE l >= 5 AND (SELECT ok FROM sguard) = 0
         |ORDER BY doc1, pos1, doc2, pos2""".stripMargin,

    // Mirrors SuffixArray.docRepeatProfile: per-position best
    // neighbor LCP (the classic max-of-adjacent property), per-doc
    // aggregate
    "q231_doc_repeats" ->
      s"""WITH $suffixCtes,
         |snxt AS (SELECT idx - 1 AS idx, lcp_prev AS lcp_next FROM sfull)
         |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN GREATEST(f.lcp_prev,
         |      COALESCE(n.lcp_next, 0)) >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_pos,
         |  CAST(MAX(GREATEST(f.lcp_prev, COALESCE(n.lcp_next, 0)))
         |    AS BIGINT) AS max_lcp
         |FROM sfull f LEFT JOIN snxt n USING (idx)
         |WHERE (SELECT ok FROM sguard) = 0
         |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin,

    // Gates SuffixArray.suffixArrayWithLcp: the complete arrays, by
    // prefix doubling (the engine sorts span groups instead)
    "q232_suffix_array" ->
      s"""WITH $suffixCtes
         |SELECT idx, doc_id, pos, lcp_prev FROM sfull
         |WHERE (SELECT ok FROM sguard) = 0
         |ORDER BY idx""".stripMargin,

    // Gates SuffixArray.repeatedSpansRetract: the maintained pairs
    // after a 1-in-7 takedown == the from-scratch repeats of the
    // SURVIVING corpus (q230's SQL over the survivor slice)
    "q242_suffix_retract" ->
      s"""WITH ${suffixCtesWhere("doc_id % 7 <> 3")}
         |SELECT a_doc AS doc1, a_pos AS pos1, b_doc AS doc2,
         |  b_pos AS pos2, CAST(l AS BIGINT) AS lcp
         |FROM slcp WHERE l >= 5 AND (SELECT ok FROM sguard) = 0
         |ORDER BY doc1, pos1, doc2, pos2""".stripMargin,

    // Mirrors Unigram.wordTable ∘ seedPieces: the substring seed vocab
    "q224_unigram_seed" ->
      s"""WITH $unigramBaseCtes
         |SELECT piece, freq FROM ugseed ORDER BY piece""".stripMargin,

    // Mirrors Unigram.unigramTrain: the COMPLETE hard-EM replay —
    // every Viterbi DP compares exact integer micro-nat sums, so the
    // hash gate pins seeding, both EM rounds, the prune, and the
    // final scores bit-for-bit
    "q225_unigram_train" ->
      s"""WITH $unigramTrainCtes
         |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece)
         |    AS BIGINT) AS rank,
         |  piece, CAST(length(piece) AS BIGINT) AS n_chars,
         |  cnt AS "count", lnp AS lnp_micro
         |FROM ugfin ORDER BY rank""".stripMargin,

    // Mirrors Unigram.tokenizeCorpus under the q225 training: per-word
    // subword counts from the final Viterbi boundaries, length
    // fallback for words the trainer excluded (len > 12)
    "q226_unigram_tokenize" ->
      s"""WITH $unigramTrainCtes,
         |ugns AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub FROM (
         |${(1 to 12).map(j => s"    SELECT word FROM uge3b$j")
           .mkString("\n    UNION ALL\n")}
         |) GROUP BY word),
         |ugtoks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |ugpersub AS (SELECT word, n_sub FROM ugns
         |  UNION ALL
         |  SELECT tok AS word, CAST(length(tok) AS BIGINT) AS n_sub FROM (
         |    SELECT DISTINCT tok FROM ugtoks WHERE length(tok) > 12))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(n_sub) AS BIGINT) AS n_subwords
         |FROM ugtoks t JOIN ugpersub p ON p.word = t.tok
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q39_freq_rank" ->
      """WITH kc AS (SELECT key, COUNT(*) AS cnt FROM
        |  (SELECT l_partkey AS key FROM lineitem
        |   UNION ALL SELECT l_suppkey FROM lineitem) GROUP BY key),
        |fr AS (SELECT cnt, COUNT(*) AS n_keys FROM kc GROUP BY cnt)
        |SELECT cnt, n_keys,
        |  CAST(1 + COALESCE(SUM(n_keys) OVER (ORDER BY cnt DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS rank_start
        |FROM fr ORDER BY cnt DESC""".stripMargin,

    // Mirrors DistributionFit.gridFitSse: same binary64 grid (rendered
    // from the same Scala Seq), same Stirling ln-factorial, same
    // closed-form SSE, same log-space rounding.
    "q71_dist_fit" ->
      s"""WITH kc AS (SELECT key, COUNT(*) AS cnt FROM
        |  (SELECT l_partkey AS key FROM lineitem
        |   UNION ALL SELECT l_suppkey FROM lineitem) GROUP BY key),
        |fr AS (SELECT cnt, COUNT(*) AS n_keys FROM kc GROUP BY cnt),
        |frr AS (SELECT cnt, n_keys,
        |  CAST(1 + COALESCE(SUM(n_keys) OVER (ORDER BY cnt DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS rank_start FROM fr),
        |rk AS (SELECT CAST(cnt AS DOUBLE) AS f,
        |         CAST(rank_start + i AS DOUBLE) AS rd
        |       FROM (SELECT cnt, rank_start,
        |               unnest(generate_series(0, CAST(n_keys - 1 AS BIGINT))) AS i
        |             FROM frr)),
        |params(family, p1, p2) AS (VALUES
        |    ${DistributionFit.gridParamsSqlValues}),
        |agg AS (SELECT family, p1, p2,
        |         SUM(f * g) AS num, SUM(g * g) AS den, SUM(f * f) AS sff
        |       FROM (SELECT family, p1, p2, f,
        |         CASE family
        |           WHEN 'zipf' THEN pow(rd, -p1)
        |           WHEN 'pareto' THEN pow(rd, -(p1 + 1.0))
        |           WHEN 'poisson' THEN exp(rd * ln(p1) - p1 -
        |             (rd * ln(rd) - rd + 0.5 * ln(2.0 * 3.141592653589793 * rd)
        |              + 1.0 / (12.0 * rd) - 1.0 / (360.0 * rd * rd * rd)))
        |           ELSE exp(-0.5 * pow((ln(rd) - p1) / p2, 2)) / rd
        |         END AS g
        |         FROM rk CROSS JOIN params)
        |       GROUP BY family, p1, p2),
        |sse AS (SELECT family, p1, p2,
        |          sff - CASE WHEN den > 0.0 THEN num * num / den ELSE 0.0 END AS s
        |        FROM agg),
        |best AS (SELECT family, p1, p2, s,
        |           row_number() OVER (PARTITION BY family
        |             ORDER BY s ASC, p1 ASC, p2 ASC) AS rn
        |         FROM sse)
        |SELECT family AS distribution, p1, p2,
        |  round(ln(greatest(s, 1e-12)), 6) AS log_sse
        |FROM best WHERE rn = 1 ORDER BY distribution""".stripMargin,

    "q40_hash_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |          AS BIGINT) % 100 AS bucket
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q41_source_cap" ->
      """SELECT doc_id, source, rn FROM (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |WHERE rn <= 64 ORDER BY source, rn""".stripMargin,

    "q42_stratified_sample" ->
      """SELECT lang, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 1000 < 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q43_decontaminate" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 8) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |ev AS (SELECT DISTINCT shingle FROM shr WHERE doc_id % 10 = 0)
         |SELECT doc_id, COUNT(*) AS n_shared
         |FROM shr JOIN ev USING (shingle)
         |WHERE doc_id % 10 <> 0
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q44_source_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_src) // COUNT(*) AS BIGINT) AS target FROM c)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN
        |    (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |       AS BIGINT) % 1000000) * n_src < target * 1000000
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents JOIN c USING (source) CROSS JOIN t
        |GROUP BY source ORDER BY source""".stripMargin,

    "q45_pack_bins" ->
      s"""SELECT doc_id, source, CAST((cum - n_tok) // 4096 AS BIGINT) AS bin
         |FROM (SELECT doc_id, source, n_tok,
         |        SUM(n_tok) OVER (PARTITION BY source
         |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM (SELECT doc_id, source, CAST($nTokens AS BIGINT) AS n_tok
         |            FROM (SELECT doc_id, source, $norm AS norm FROM documents)))
         |ORDER BY doc_id""".stripMargin,

    "q46_clean_corpus" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |keep AS (SELECT MIN(doc_id) AS doc_id FROM
         |         (SELECT doc_id, md5(norm) AS fp FROM docs) GROUP BY fp),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 8) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 2),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |ev AS (SELECT DISTINCT shingle FROM shr WHERE doc_id % 10 = 0),
         |bad AS (SELECT DISTINCT doc_id FROM shr JOIN ev USING (shingle)
         |        WHERE doc_id % 10 <> 0)
         |SELECT d.doc_id, d.source FROM documents d
         |WHERE d.doc_id % 10 <> 0
         |  AND EXISTS (SELECT 1 FROM keep k WHERE k.doc_id = d.doc_id)
         |  AND NOT EXISTS (SELECT 1 FROM bad b WHERE b.doc_id = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,

    "q47_vocabulary" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |  FROM documents) WHERE length(tok) > 0)
         |SELECT tok AS token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
         |FROM toks GROUP BY tok HAVING COUNT(*) >= 2
         |ORDER BY token""".stripMargin,

    "q48_unigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |  FROM documents) WHERE length(tok) > 0),
         |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM vocab),
         |pdt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |  CAST(SUM(c * tf) AS DOUBLE) /
         |    CAST(SUM(c) * ANY_VALUE(total) AS DOUBLE) AS lm_score
         |FROM pdt JOIN vocab USING (tok) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // assignment replays the TWO-LEVEL coarse-quantizer path (the
    // Spark side's at-scale default; coarse = ceil(sqrt(16)) = 4)
    "q49_semantic_dups" ->
      s"""WITH $flatCte,
         |${twoLevelCte(nCentroids = 16, lloydIters = 2, coarse = 4, coarseProbe = 2)},
         |szok AS (SELECT cell FROM assign2 GROUP BY cell HAVING COUNT(*) <= 256),
         |memb AS (SELECT assign2.vec_id, assign2.cell FROM assign2 JOIN szok USING (cell)),
         |pairs AS (SELECT a.vec_id AS id1, b.vec_id AS id2, a.cell
         |          FROM memb a JOIN memb b
         |          ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |dots AS (SELECT p.id1, p.id2, p.cell, SUM(f1.v * f2.v) AS dot
         |         FROM pairs p
         |         JOIN flat f1 ON f1.vec_id = p.id1
         |         JOIN flat f2 ON f2.vec_id = p.id2 AND f2.i = f1.i
         |         GROUP BY p.id1, p.id2, p.cell),
         |cos AS (SELECT id1, id2, cell, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
         |        FROM dots
         |        JOIN norms na ON na.vec_id = id1
         |        JOIN norms nb ON nb.vec_id = id2)
         |SELECT id1, id2, cell, cos FROM cos WHERE cos >= 0.35
         |ORDER BY id1, id2""".stripMargin,

    "q50_repetition" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |  SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |  FROM documents) WHERE length(tok) > 0),
         |pdt AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, tok),
         |r AS (SELECT doc_id, tok, c,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, tok) AS rn,
         |        SUM(c) OVER (PARTITION BY doc_id) AS n_tok
         |      FROM pdt)
         |SELECT doc_id, tok AS top_token, c AS top_c,
         |  CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(c AS DOUBLE) / CAST(n_tok AS DOUBLE) AS rep_ratio
         |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q51_dup_clusters" ->
      s"""WITH RECURSIVE $dupComponentsCtes
         |SELECT c.doc_id, c.component, cs.cluster_size
         |FROM comp c JOIN cs USING (component) ORDER BY doc_id""".stripMargin,

    // q51's component closure + per-component argmax winner (window
    // formulation — independent of the Spark side's hash-agg max_by)
    "q72_cluster_keep" ->
      s"""WITH RECURSIVE $dupComponentsCtes,
         |mem AS (SELECT c.doc_id, c.component, cs.cluster_size, d.n_chars
         |        FROM comp c JOIN cs USING (component)
         |        JOIN documents d USING (doc_id)),
         |win AS (SELECT component, doc_id AS keep_id FROM (
         |          SELECT component, doc_id,
         |            row_number() OVER (PARTITION BY component
         |              ORDER BY n_chars DESC, doc_id ASC) AS wrn FROM mem)
         |        WHERE wrn = 1)
         |SELECT m.doc_id, m.component, m.cluster_size,
         |  (m.doc_id = w.keep_id) AS keep
         |FROM mem m JOIN win w USING (component) ORDER BY m.doc_id""".stripMargin,

    "q73_temperature_mix" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
        |w AS (SELECT source, n_src,
        |        CAST(floor(sqrt(CAST(n_src AS DOUBLE)) * 1000000) AS BIGINT) AS wq
        |      FROM c),
        |t AS (SELECT CAST(SUM(wq) AS BIGINT) AS wsum FROM w),
        |quotas AS (SELECT source,
        |             CAST(least(n_src, (200 * wq) // wsum) AS BIGINT) AS quota
        |           FROM w CROSS JOIN t),
        |ranked AS (SELECT doc_id, source,
        |             CAST(row_number() OVER (PARTITION BY source
        |               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |           FROM documents)
        |SELECT r.doc_id, r.source, r.rn
        |FROM ranked r JOIN quotas q USING (source)
        |WHERE r.rn <= q.quota ORDER BY r.source, r.rn""".stripMargin,

    // Mirrors Similarity.prototypicality: centroidStep's
    // floor(sum/count) per (label, dim) over the quantized elements,
    // then one exact integer dot per (vector, its label centroid)
    "q74_prototypicality" ->
      s"""WITH $flatCte,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |cent AS (SELECT l.label, f.i,
         |           CAST(floor(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
         |         FROM flat f JOIN lab l USING (vec_id)
         |         GROUP BY l.label, f.i),
         |cn AS (SELECT label, sqrt(CAST(SUM(cv * cv) AS DOUBLE)) AS cnrm
         |       FROM cent GROUP BY label),
         |dots AS (SELECT f.vec_id, l.label, SUM(f.v * c.cv) AS dot
         |         FROM flat f JOIN lab l USING (vec_id)
         |         JOIN cent c ON c.label = l.label AND c.i = f.i
         |         GROUP BY f.vec_id, l.label),
         |scored AS (SELECT d.vec_id, d.label,
         |             CAST(d.dot AS DOUBLE) / (n.nrm * c.cnrm) AS proto_cos
         |           FROM dots d JOIN norms n USING (vec_id)
         |           JOIN cn c ON c.label = d.label)
         |SELECT vec_id, label, proto_cos,
         |  CAST(row_number() OVER (PARTITION BY label
         |    ORDER BY proto_cos DESC, vec_id ASC) AS BIGINT) AS rn
         |FROM scored ORDER BY vec_id""".stripMargin,

    // q26's verified dup pairs + endpoint sources, counted per
    // unordered source pair
    "q75_source_overlap" ->
      s"""WITH $dupPairsCtes,
         |ds AS (SELECT doc_id, source FROM documents),
         |lab AS (SELECT least(a.source, b.source) AS src1,
         |               greatest(a.source, b.source) AS src2
         |        FROM dup JOIN ds a ON a.doc_id = dup.id1
         |        JOIN ds b ON b.doc_id = dup.id2)
         |SELECT src1, src2, COUNT(*) AS n_pairs
         |FROM lab GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin,

    // Mirrors Dedup.boilerplate: 8-gram shingles (q43's width), md5 →
    // 60-bit h before any aggregation, df >= 2 shared cut,
    // integer/integer ratio
    "q76_boilerplate" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh8 AS (SELECT DISTINCT doc_id, substr(norm, i, 8) AS shingle FROM (
         |        SELECT doc_id, norm,
         |          unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
         |        FROM docs)),
         |shd AS (SELECT DISTINCT doc_id,
         |          CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
         |            % 1000000007 AS h
         |        FROM sh8),
         |dfh AS (SELECT h, COUNT(*) AS df FROM shd GROUP BY h),
         |perdoc AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
         |             SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_shared
         |           FROM shd s JOIN dfh d USING (h) GROUP BY s.doc_id)
         |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
         |  CAST(n_shared AS BIGINT) AS n_shared,
         |  CAST(n_shared AS DOUBLE) / n_shingles AS boiler_frac
         |FROM perdoc ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.gopherRules: list-expression stats over
    // the normalized tokens, micro ratios from exact ints
    "q77_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split($norm, ' '), x -> length(x) > 0) AS toks
         |  FROM documents),
         |s AS (SELECT doc_id, len(toks) AS n_words,
         |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
         |      AS total_len,
         |    len(list_distinct(toks)) AS n_uniq,
         |    len(list_filter(toks, x -> x IN ('the','a','an','of','to','in',
         |      'and','is','be','that'))) AS stop_count
         |  FROM t),
         |r AS (SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |    CAST(CASE WHEN n_words = 0 THEN 0
         |      ELSE round(1e6 * total_len / n_words) END AS BIGINT)
         |      AS mean_word_len_micro,
         |    CAST(CASE WHEN n_words = 0 THEN 0
         |      ELSE round(1e6 * n_uniq / n_words) END AS BIGINT)
         |      AS uniq_frac_micro,
         |    CAST(stop_count AS BIGINT) AS stop_count
         |  FROM s)
         |SELECT doc_id, n_words, mean_word_len_micro, uniq_frac_micro,
         |  stop_count,
         |  (n_words >= 50 AND n_words <= 100000) AS ok_word_count,
         |  (mean_word_len_micro >= 3000000 AND mean_word_len_micro <= 10000000)
         |    AS ok_word_len,
         |  (uniq_frac_micro >= 300000) AS ok_uniq,
         |  (stop_count >= 2) AS ok_stop,
         |  (n_words >= 50 AND n_words <= 100000
         |    AND mean_word_len_micro >= 3000000
         |    AND mean_word_len_micro <= 10000000
         |    AND uniq_frac_micro >= 300000 AND stop_count >= 2) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.dsirWeights: per-TYPE micro-nat log ratios
    // from exact BIGINTs, per-doc exact integer Σ of c·lr_micro
    "q78_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_tok, dsir_micro FROM w ORDER BY doc_id""".stripMargin,

    // Mirrors CharEntropyExpression: per-codepoint HALF_UP milli-bit
    // terms summed as BIGINTs (see the expression Scaladoc for why
    // milli granularity makes the cross-engine round deterministic)
    "q79_char_entropy" ->
      s"""WITH n AS (SELECT doc_id, $norm AS t FROM documents),
         |c AS (SELECT doc_id, unnest(string_split(t, '')) AS ch FROM n
         |      WHERE length(t) > 0),
         |h AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY doc_id, ch),
         |tot AS (SELECT doc_id, length(t) AS nn FROM n),
         |e AS (SELECT h.doc_id,
         |    SUM(CAST(round(1e3 * cnt * log2(nn * 1.0 / cnt) / nn) AS BIGINT))
         |      AS entropy_milli
         |  FROM h JOIN tot ON h.doc_id = tot.doc_id GROUP BY h.doc_id)
         |SELECT n.doc_id, CAST(length(t) AS BIGINT) AS n_cp,
         |  CAST(COALESCE(e.entropy_milli, 0) AS BIGINT) AS entropy_milli
         |FROM n LEFT JOIN e ON n.doc_id = e.doc_id ORDER BY n.doc_id""".stripMargin,

    // Mirrors TextAnalysis.pmiPairs: q64's bigram CTE + unigram tf,
    // one fixed-order double ratio, ln + HALF_UP micro round, total
    // order (pmi desc, w1, w2)
    "q80_pmi_pairs" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |uni AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
         |ntok AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_tok FROM uni),
         |docs AS (SELECT doc_id, string_split($norm, ' ') AS toks
         |         FROM documents),
         |bgs AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram FROM (
         |        SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM docs WHERE len(toks) >= 2)),
         |bg AS (SELECT bigram, COUNT(*) AS c_ab FROM bgs GROUP BY bigram),
         |nbg AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS n_bg FROM bg),
         |pairs AS (SELECT string_split(bigram, ' ')[1] AS w1,
         |    string_split(bigram, ' ')[2] AS w2, c_ab
         |  FROM bg WHERE c_ab >= 5)
         |SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
         |  CAST(round(1e6 * ln(
         |    CAST(c_ab AS DOUBLE) * n_tok * n_tok /
         |      (CAST(n_bg AS DOUBLE) * u1.tf * u2.tf))) AS BIGINT) AS pmi_micro
         |FROM pairs
         |JOIN uni u1 ON u1.tok = pairs.w1
         |JOIN uni u2 ON u2.tok = pairs.w2
         |CROSS JOIN ntok CROSS JOIN nbg
         |ORDER BY pmi_micro DESC, w1, w2 LIMIT 50""".stripMargin,

    // Mirrors Similarity.randomProjection: the first 4 hyperplane
    // sums (same (a,b) constants as the LSH tables) as exact BIGINTs
    "q81_random_projection" ->
      s"""WITH $flatCte,
         |hd AS (SELECT vec_id,
         |${graft.operators.Similarity.hyperplaneParams.take(4).zipWithIndex
            .map { case ((a, b), h) =>
              s"  SUM(v * (CASE WHEN ((i*$a + $b) % 1000000007) % 2 = 0" +
                s" THEN 1 ELSE -1 END)) AS p$h" }.mkString(",\n")}
         |  FROM flat GROUP BY vec_id)
         |SELECT vec_id, CAST(p0 AS BIGINT) AS p0, CAST(p1 AS BIGINT) AS p1,
         |  CAST(p2 AS BIGINT) AS p2, CAST(p3 AS BIGINT) AS p3
         |FROM hd ORDER BY vec_id""".stripMargin,

    // Mirrors Similarity.annRecall: q30's exact top-5 as ground
    // truth, q31's LSH top-5 as the approximate side, hit-counted
    "q82_ann_recall" ->
      s"""WITH $flatCte,
         |${hplaneCte(4, 8)},
         |bd AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |       FROM flat q JOIN flat c ON q.i = c.i
         |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |       GROUP BY q.vec_id, c.vec_id),
         |bc AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |       FROM bd JOIN norms nq ON nq.vec_id = qid
         |       JOIN norms nc ON nc.vec_id = cid),
         |tr AS (SELECT qid, cid FROM (
         |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid) AS rn FROM bc)
         |       WHERE rn <= 5),
         |lp AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
         |       FROM hbb q JOIN hbb c
         |       ON q.tbl = c.tbl AND q.bucket = c.bucket
         |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |ld AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |       FROM lp p
         |       JOIN flat fq ON fq.vec_id = p.qid
         |       JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |       GROUP BY p.qid, p.cid),
         |lc AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |       FROM ld JOIN norms nq ON nq.vec_id = qid
         |       JOIN norms nc ON nc.vec_id = cid),
         |ap AS (SELECT qid, cid, 1 AS hit FROM (
         |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid) AS rn FROM lc)
         |       WHERE rn <= 5),
         |agg AS (SELECT tr.qid, COUNT(*) AS n_truth,
         |          SUM(COALESCE(ap.hit, 0)) AS n_hit
         |        FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.cid = ap.cid
         |        GROUP BY tr.qid)
         |SELECT qid, CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(round(1e6 * n_hit / n_truth) AS BIGINT) AS recall_micro
         |FROM agg ORDER BY qid""".stripMargin,

    // Mirrors Similarity.cellBalance: the q34/q49 IVF training CTEs'
    // single-probe assignment, counted per cell
    "q83_cell_balance" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 1)},
         |counts AS (SELECT cell, COUNT(*) AS n_vecs FROM assign
         |           GROUP BY cell),
         |tot AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM counts)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(n_vecs AS BIGINT) AS n_vecs,
         |  CAST(round(1e6 * n_vecs / total) AS BIGINT) AS share_micro
         |FROM counts CROSS JOIN tot ORDER BY cell""".stripMargin,

    // Mirrors Curation.dataCard: q40's md5 split buckets + the token
    // count over norm, rolled up with GROUPING ids
    "q84_data_card" ->
      s"""WITH rows_ AS (SELECT
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |    source, n_chars, $nTokens AS n_tok
         |  FROM (SELECT
         |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 AS b,
         |      source, n_chars, $norm AS norm
         |    FROM documents))
         |SELECT split, source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
         |  CAST(GROUPING(split, source) AS BIGINT) AS gid
         |FROM rows_ GROUP BY ROLLUP(split, source)
         |ORDER BY gid, split, source""".stripMargin,

    // Mirrors DistributionFit.sourceFit: the q71 grid-fit CTEs with
    // `source` threaded through every key set and window partition
    "q85_source_fit" ->
      s"""WITH toks AS (SELECT source, tok FROM (
         |    SELECT source, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |kc AS (SELECT source, tok, COUNT(*) AS cnt FROM toks
         |       GROUP BY source, tok),
         |fr AS (SELECT source, cnt, COUNT(*) AS n_keys FROM kc
         |       GROUP BY source, cnt),
         |frr AS (SELECT source, cnt, n_keys,
         |  CAST(1 + COALESCE(SUM(n_keys) OVER (PARTITION BY source
         |    ORDER BY cnt DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS rank_start FROM fr),
         |rk AS (SELECT source, CAST(cnt AS DOUBLE) AS f,
         |         CAST(rank_start + i AS DOUBLE) AS rd
         |       FROM (SELECT source, cnt, rank_start,
         |               unnest(generate_series(0, CAST(n_keys - 1 AS BIGINT))) AS i
         |             FROM frr)),
         |params(family, p1, p2) AS (VALUES
         |    ${DistributionFit.gridParamsSqlValues}),
         |agg AS (SELECT source, family, p1, p2,
         |         SUM(f * g) AS num, SUM(g * g) AS den, SUM(f * f) AS sff
         |       FROM (SELECT source, family, p1, p2, f,
         |         CASE family
         |           WHEN 'zipf' THEN pow(rd, -p1)
         |           WHEN 'pareto' THEN pow(rd, -(p1 + 1.0))
         |           WHEN 'poisson' THEN exp(rd * ln(p1) - p1 -
         |             (rd * ln(rd) - rd + 0.5 * ln(2.0 * 3.141592653589793 * rd)
         |              + 1.0 / (12.0 * rd) - 1.0 / (360.0 * rd * rd * rd)))
         |           ELSE exp(-0.5 * pow((ln(rd) - p1) / p2, 2)) / rd
         |         END AS g
         |         FROM rk CROSS JOIN params)
         |       GROUP BY source, family, p1, p2),
         |sse AS (SELECT source, family, p1, p2,
         |          sff - CASE WHEN den > 0.0 THEN num * num / den ELSE 0.0 END AS s
         |        FROM agg),
         |best AS (SELECT source, family, p1, p2, s,
         |           row_number() OVER (PARTITION BY source, family
         |             ORDER BY s ASC, p1 ASC, p2 ASC) AS rn
         |         FROM sse)
         |SELECT source, family AS distribution, p1, p2,
         |  round(ln(greatest(s, 1e-12)), 6) AS log_sse
         |FROM best WHERE rn = 1 ORDER BY source, distribution""".stripMargin,

    // Mirrors Curation.packStats: the q45 running-sum CTE + the
    // (source, bin) aggregate and integer fill ratio
    "q86_pack_stats" ->
      s"""SELECT source, bin, COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
         |  CAST(round(1e6 * SUM(n_tok) / 4096) AS BIGINT) AS fill_micro
         |FROM (SELECT source, CAST((cum - n_tok) // 4096 AS BIGINT) AS bin,
         |        n_tok
         |      FROM (SELECT doc_id, source, n_tok,
         |              SUM(n_tok) OVER (PARTITION BY source
         |                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         |                ROWS UNBOUNDED PRECEDING) AS cum
         |            FROM (SELECT doc_id, source, CAST($nTokens AS BIGINT) AS n_tok
         |                  FROM (SELECT doc_id, source, $norm AS norm
         |                        FROM documents))))
         |GROUP BY source, bin ORDER BY source, bin""".stripMargin,

    // Mirrors the q87 entry: old = md5-buckets 0-8 as-is, new =
    // buckets 1-9 with bucket 5's text revised (' v2' suffix); ONE
    // full outer join on doc_id classifies every key
    "q87_snapshot_diff" ->
      s"""WITH base AS (SELECT doc_id, text,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS b
         |  FROM documents),
         |olds AS (SELECT doc_id, md5($norm) AS old_fp FROM base WHERE b < 9),
         |newd AS (SELECT doc_id,
         |           CASE WHEN b = 5 THEN text || ' v2' ELSE text END AS text
         |         FROM base WHERE b >= 1),
         |news AS (SELECT doc_id, md5($norm) AS new_fp FROM newd)
         |SELECT doc_id, old_fp, new_fp,
         |  CASE WHEN old_fp IS NULL THEN 'added'
         |       WHEN new_fp IS NULL THEN 'removed'
         |       WHEN old_fp = new_fp THEN 'unchanged'
         |       ELSE 'changed' END AS status
         |FROM olds FULL JOIN news USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // q23's quality CTE + per-source windows; keep = integer-exact
    // rn·1000 ≤ 900·n
    "q88_quality_gate" ->
      s"""WITH $qualityCte
         |SELECT doc_id, source, quality, (rn * 1000 <= 900 * n) AS keep
         |FROM (SELECT q.doc_id, d.source, q.quality,
         |        CAST(row_number() OVER (PARTITION BY d.source
         |          ORDER BY q.quality DESC, q.doc_id) AS BIGINT) AS rn,
         |        CAST(COUNT(*) OVER (PARTITION BY d.source) AS BIGINT) AS n
         |      FROM qual q JOIN documents d USING (doc_id))
         |ORDER BY doc_id""".stripMargin,

    // q26's verified dup pairs → node degrees → degree histogram
    "q89_pair_degrees" ->
      s"""WITH $dupPairsCtes,
         |nodes AS (SELECT id1 AS node FROM dup
         |          UNION ALL SELECT id2 FROM dup),
         |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
         |        FROM nodes GROUP BY node)
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY degree ORDER BY degree""".stripMargin,

    // Mirrors Similarity.labelCentroidSim: exact-integer per-(label,
    // dim) sums → floor-mean centroids → exact dots/norms → one
    // double division
    "q90_label_centroids" ->
      s"""WITH lf AS (SELECT label, i,
         |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
         |  FROM (SELECT label, embedding,
         |        unnest(generate_series(1, len(embedding))) AS i
         |        FROM embeddings)),
         |ln_ AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
         |        FROM embeddings GROUP BY label),
         |c AS (SELECT lf.label, i,
         |        CAST(floor(CAST(SUM(v) AS DOUBLE) / n) AS BIGINT) AS c
         |      FROM lf JOIN ln_ ON lf.label = ln_.label
         |      GROUP BY lf.label, i, n),
         |nrm AS (SELECT label, sqrt(CAST(SUM(c * c) AS DOUBLE)) AS nrm
         |        FROM c GROUP BY label),
         |dots AS (SELECT a.label AS l1, b.label AS l2, SUM(a.c * b.c) AS dot
         |         FROM c a JOIN c b ON a.i = b.i AND a.label < b.label
         |         GROUP BY 1, 2)
         |SELECT CAST(l1 AS BIGINT) AS label1, CAST(l2 AS BIGINT) AS label2,
         |  CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
         |FROM dots JOIN nrm na ON na.label = l1 JOIN nrm nb ON nb.label = l2
         |ORDER BY label1, label2""".stripMargin,

    // q78's weight CTE + the log-space keep test: u from the first 12
    // md5 hex chars of doc_id, keep iff floor(1000·ln(u)) < w_milli
    "q91_dsir_resample" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_tok, dsir_micro,
         |  (CAST(floor(1000.0 * ln(
         |     (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
         |        AS BIGINT) + 1) / 281474976710656.0)) AS BIGINT)
         |   < CAST(floor(CAST(dsir_micro AS DOUBLE) / 1000.0) AS BIGINT))
         |    AS keep
         |FROM w ORDER BY doc_id""".stripMargin,

    // Mirrors the q92 entry: index = buckets 0-4, batch = buckets 3-9
    // plus bucket-6 clones re-keyed to doc_id+1e6
    "q92_incremental_dedup" ->
      s"""WITH base AS (SELECT doc_id, text,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS b
         |  FROM documents),
         |idx AS (SELECT DISTINCT md5($norm) AS fp FROM base WHERE b <= 4),
         |batch AS (SELECT doc_id, md5($norm) AS fp FROM base
         |            WHERE b BETWEEN 3 AND 9
         |          UNION ALL
         |          SELECT doc_id + 1000000, md5($norm) FROM base WHERE b = 6),
         |fst AS (SELECT fp, MIN(doc_id) AS first_id FROM batch GROUP BY fp)
         |SELECT b.doc_id, b.fp,
         |  CASE WHEN i.fp IS NOT NULL THEN 'dup_of_index'
         |       WHEN b.doc_id <> f.first_id THEN 'dup_in_batch'
         |       ELSE 'new' END AS status
         |FROM batch b JOIN fst f USING (fp) LEFT JOIN idx i ON i.fp = b.fp
         |ORDER BY b.doc_id""".stripMargin,

    // q43's shingle/rare/train CTEs, aggregated from the eval side
    "q93_contamination" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 8) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |tr AS (SELECT DISTINCT shingle FROM shr WHERE doc_id % 10 <> 0)
         |SELECT shr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contam,
         |  CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / COUNT(*) AS contam_frac
         |FROM shr LEFT JOIN tr ON shr.shingle = tr.shingle
         |WHERE shr.doc_id % 10 = 0
         |GROUP BY shr.doc_id ORDER BY shr.doc_id""".stripMargin,

    // q26's candidate CTEs, scored by component agreement instead of
    // the shingle-set verify
    "q94_est_jaccard" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql),
         |okb AS (SELECT band, bhash FROM bands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
         |       FROM bands JOIN okb USING (band, bhash)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bb a JOIN bb b
         |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
         |ag AS (SELECT c.id1, c.id2, CAST($sigAgreeSql AS BIGINT) AS n_agree
         |       FROM cands c
         |       JOIN sig a ON a.doc_id = c.id1
         |       JOIN sig b ON b.doc_id = c.id2)
         |SELECT id1, id2, n_agree,
         |  CAST(n_agree AS DOUBLE) / 16 AS est_jaccard
         |FROM ag ORDER BY id1, id2""".stripMargin,

    // Mirrors Curation.sourceKlDrift's fixed-order contribution
    // expression exactly (micro-nat rounding, integer sum)
    "q95_source_kl" ->
      s"""WITH toks AS (SELECT source, tok FROM (
         |    SELECT source, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |sc AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c_s
         |       FROM toks GROUP BY source, tok),
         |cc AS (SELECT tok, CAST(SUM(c_s) AS BIGINT) AS c_c FROM sc GROUP BY tok),
         |st AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s
         |       FROM sc GROUP BY source),
         |ct AS (SELECT CAST(SUM(c_c) AS BIGINT) AS n_c FROM cc),
         |contrib AS (SELECT sc.source, n_s,
         |    CAST(round(1e6 * (CAST(c_s AS DOUBLE) / n_s) *
         |      ln(CAST(c_s AS DOUBLE) * n_c / (CAST(c_c AS DOUBLE) * n_s)))
         |      AS BIGINT) AS contrib_micro
         |  FROM sc JOIN cc USING (tok) JOIN st ON sc.source = st.source
         |  CROSS JOIN ct)
         |SELECT source, MAX(n_s) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS vocab,
         |  CAST(SUM(contrib_micro) AS BIGINT) AS kl_micro
         |FROM contrib GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors the q96 entry: signatures per doc are independent of the
    // index/batch split, so the oracle computes them corpus-wide and
    // splits afterward; index-side hot-bucket cap, band equi-join,
    // component-agreement score
    "q96_incremental_neardups" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig0 AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |sig AS (SELECT sig0.*,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS bkt
         |  FROM sig0),
         |bands AS ($bandsSql),
         |bx AS (SELECT bands.doc_id, band, bhash, bkt
         |       FROM bands JOIN sig USING (doc_id)),
         |okb AS (SELECT band, bhash FROM bx WHERE bkt <= 6
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM (SELECT bx.* FROM bx JOIN okb USING (band, bhash)
         |                WHERE bkt <= 6) a
         |          JOIN (SELECT * FROM bx WHERE bkt >= 7) b
         |          ON a.band = b.band AND a.bhash = b.bhash)
         |SELECT c.id1, c.id2, CAST($sigAgreeSql AS BIGINT) AS n_agree,
         |  CAST($sigAgreeSql AS DOUBLE) / 16 AS est_jaccard
         |FROM cands c
         |JOIN sig a ON a.doc_id = c.id1
         |JOIN sig b ON b.doc_id = c.id2
         |WHERE $sigAgreeSql >= 8
         |ORDER BY c.id1, c.id2""".stripMargin,

    // Top-100 token types with exact integer cumulative coverage
    "q97_vocab_coverage" ->
      s"""WITH toks AS (SELECT tok FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0),
         |tc AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tc),
         |r AS (SELECT token, tf,
         |        CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT)
         |          AS rank,
         |        SUM(tf) OVER (ORDER BY tf DESC, token
         |          ROWS UNBOUNDED PRECEDING) AS cum
         |      FROM tc)
         |SELECT rank, token, tf,
         |  CAST((cum * 1000000) // total AS BIGINT) AS coverage_micro
         |FROM r CROSS JOIN tot WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // q26's candidate CTEs scored by BOTH the agreement estimate and
    // the exact micro-Jaccard, bucketed by agreement
    "q98_est_calibration" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql),
         |okb AS (SELECT band, bhash FROM bands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
         |       FROM bands JOIN okb USING (band, bhash)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bb a JOIN bb b
         |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
         |           FROM cands c
         |           JOIN sh a ON a.doc_id = c.id1
         |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |           GROUP BY c.id1, c.id2),
         |jm AS (SELECT id1, id2,
         |         CAST((common * 1000000) // (s1.sz + s2.sz - common)
         |           AS BIGINT) AS j_micro
         |       FROM common
         |       JOIN sizes s1 ON s1.doc_id = id1
         |       JOIN sizes s2 ON s2.doc_id = id2),
         |ag AS (SELECT c.id1, c.id2, CAST($sigAgreeSql AS BIGINT) AS n_agree
         |       FROM cands c
         |       JOIN sig a ON a.doc_id = c.id1
         |       JOIN sig b ON b.doc_id = c.id2)
         |SELECT n_agree, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(CAST(SUM(j_micro) AS BIGINT) // COUNT(*) AS BIGINT)
         |    AS mean_j_micro
         |FROM ag JOIN jm USING (id1, id2)
         |GROUP BY n_agree ORDER BY n_agree""".stripMargin,

    // Fixed-order product expansion of 1 - (1 - s^4)^4 over s = i/20
    "q99_lsh_curve" -> {
      val s = "(CAST(i AS DOUBLE) / 20)"
      val pBand = Seq.fill(4)(s).mkString(" * ")
      val q4 = Seq.fill(4)(s"(1.0 - $pBand)").mkString(" * ")
      s"""SELECT CAST(i * 100 // 20 AS BIGINT) AS s_pct,
         |  $pBand AS p_band,
         |  1.0 - $q4 AS p_collide
         |FROM (SELECT unnest(generate_series(1, 20)) AS i)
         |ORDER BY s_pct""".stripMargin
    },

    // Mirrors approxProfile's deterministic census columns (the
    // sketch columns are engine-specific — spec-gated, not here)
    "q58_approx_profile" ->
      s"""WITH d AS (SELECT source, $norm AS norm FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM($nTokens) AS BIGINT) AS n_tokens
         |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // Mirrors Dedup.sourceVocabOverlap: distinct (source, token)
    // types, token-keyed self-join src1 < src2, integer sizes,
    // one IEEE double division
    "q100_vocab_overlap" ->
      s"""WITH st AS (SELECT DISTINCT source, tok FROM (
         |    SELECT source, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v
         |          FROM st GROUP BY source),
         |c AS (SELECT a.source AS src1, b.source AS src2,
         |        CAST(COUNT(*) AS BIGINT) AS common
         |      FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
         |      GROUP BY a.source, b.source)
         |SELECT src1, src2, s1.v AS v1, s2.v AS v2, common,
         |  CAST(common AS DOUBLE) / (s1.v + s2.v - common) AS vocab_jaccard
         |FROM c JOIN sizes s1 ON s1.source = c.src1
         |JOIN sizes s2 ON s2.source = c.src2
         |ORDER BY src1, src2""".stripMargin,

    // Mirrors Dedup.novelty: distinct (doc_id, 60-bit shingle hash)
    // — full hash, NO mod-p reduction — min doc_id per hash, join
    // back, integer counts, one double division
    "q101_novelty" ->
      s"""WITH $shinglesCte,
         |shd AS (SELECT DISTINCT doc_id,
         |          CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)
         |            AS h
         |        FROM sh),
         |f AS (SELECT h, MIN(doc_id) AS first_id FROM shd GROUP BY h),
         |pd AS (SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |         CAST(SUM(CASE WHEN s.doc_id = f.first_id THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_novel
         |       FROM shd s JOIN f USING (h) GROUP BY s.doc_id)
         |SELECT doc_id, n_shingles, n_novel,
         |  CAST(n_novel AS DOUBLE) / n_shingles AS novelty_frac
         |FROM pd ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.langIdEval: q22's scored CTE + prediction
    // case, aggregated to the langs²-bounded confusion matrix
    "q102_langid_eval" ->
      s"""WITH $langScoresCte
         |SELECT lang AS label_lang, $langCase AS pred_lang,
         |  COUNT(*) AS n_docs
         |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Mirrors TextAnalysis.sourceLangMix: per-source prediction mix
    // with integer-micro shares (n·1e6 // src_total)
    "q103_source_lang_mix" ->
      s"""WITH $langScoresCte,
         |pred AS (SELECT doc_id, $langCase AS pred_lang FROM scored),
         |j AS (SELECT d.source, p.pred_lang
         |      FROM pred p JOIN documents d USING (doc_id)),
         |c AS (SELECT source, pred_lang, COUNT(*) AS n_docs
         |      FROM j GROUP BY source, pred_lang),
         |tot AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_total
         |        FROM c GROUP BY source)
         |SELECT c.source, c.pred_lang, c.n_docs,
         |  CAST((c.n_docs * 1000000) // t.src_total AS BIGINT)
         |    AS share_micro
         |FROM c JOIN tot t USING (source)
         |ORDER BY source, pred_lang""".stripMargin,

    // Mirrors SkewJoin.keySkewProfile over events.user_id: exact
    // counts, total-order top-20, integer-micro shares of all rows
    "q104_key_skew" ->
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key_value,
        |             CAST(COUNT(*) AS BIGINT) AS n_rows
        |           FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c),
        |r AS (SELECT key_value, n_rows,
        |        CAST(row_number() OVER (ORDER BY n_rows DESC, key_value)
        |          AS BIGINT) AS rank
        |      FROM c)
        |SELECT rank, key_value, n_rows,
        |  CAST((n_rows * 1000000) // total AS BIGINT) AS share_micro
        |FROM r CROSS JOIN tot WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // Mirrors Similarity.vectorHealth: per-dim census over the same
    // 1e6 quantization as the ANN oracles, but with its OWN flat CTE
    // that survives the pathologies the operator exists to detect
    // (parity with the Spark side on sick inputs): non-finite
    // elements zero-fold into the norm BEFORE the BIGINT cast (the
    // shared flatCte would error in DuckDB where Spark reports them),
    // and len-0 embeddings — which produce no flat rows — keep their
    // dim=0 census row via LEFT JOIN + COALESCE(nsq, 0) (Spark emits
    // a zero-vector row for them, as vectorHealth's scaladoc
    // promises).
    "q105_vector_health" ->
      """WITH flat5 AS (SELECT vec_id, i,
        |    CAST(round((CASE WHEN isnan(CAST(embedding[i] AS DOUBLE))
        |          OR isinf(CAST(embedding[i] AS DOUBLE)) THEN 0.0
        |        ELSE CAST(embedding[i] AS DOUBLE) END) * 1000000)
        |      AS BIGINT) AS v
        |  FROM (SELECT vec_id, embedding,
        |        unnest(generate_series(1, len(embedding))) AS i
        |        FROM embeddings)),
        |nsq AS (SELECT vec_id, CAST(SUM(v*v) AS BIGINT) AS nsq
        |        FROM flat5 GROUP BY vec_id),
        |meta AS (SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |    len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
        |      OR isinf(CAST(x AS DOUBLE)))) > 0 AS bad
        |  FROM embeddings),
        |j AS (SELECT m.dim, m.bad, COALESCE(n.nsq, 0) AS nsq
        |      FROM meta m LEFT JOIN nsq n USING (vec_id))
        |SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST(SUM(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_zero,
        |  CAST(SUM(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_nonfinite,
        |  MIN(nsq) AS min_nsq, MAX(nsq) AS max_nsq,
        |  CAST(CAST(SUM(nsq) AS BIGINT) // COUNT(*) AS BIGINT)
        |    AS mean_nsq
        |FROM j GROUP BY dim ORDER BY dim""".stripMargin,

    // Mirrors Similarity.semanticDecontaminate: exact-integer dots
    // over the shared flatCte quantization, eval = vec_id < 10
    "q106_semantic_decontam" ->
      s"""WITH $flatCte,
         |dots AS (SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
         |           SUM(t.v * e.v) AS dot
         |         FROM flat t JOIN flat e ON t.i = e.i
         |         WHERE t.vec_id >= 10 AND e.vec_id < 10
         |         GROUP BY 1, 2),
         |cos AS (SELECT train_id, eval_id,
         |          CAST(dot AS DOUBLE) / (nt.nrm * ne.nrm) AS cos
         |        FROM dots
         |        JOIN norms nt ON nt.vec_id = train_id
         |        JOIN norms ne ON ne.vec_id = eval_id)
         |SELECT train_id, eval_id, cos FROM cos
         |WHERE cos >= 0.3 ORDER BY train_id, eval_id""".stripMargin,

    // Mirrors Similarity.semanticDecontaminateLsh: the q31 hyperplane
    // bucket CTEs gate the candidate pairs before the exact scoring
    "q107_semantic_decontam_lsh" ->
      s"""WITH $flatCte,
         |${hplaneCte(4, 8)},
         |cand AS (SELECT DISTINCT t.vec_id AS train_id,
         |           e.vec_id AS eval_id
         |         FROM hbb t JOIN hbb e
         |         ON t.tbl = e.tbl AND t.bucket = e.bucket
         |         WHERE t.vec_id >= 10 AND e.vec_id < 10),
         |dots AS (SELECT c.train_id, c.eval_id, SUM(ft.v * fe.v) AS dot
         |         FROM cand c
         |         JOIN flat ft ON ft.vec_id = c.train_id
         |         JOIN flat fe ON fe.vec_id = c.eval_id AND fe.i = ft.i
         |         GROUP BY c.train_id, c.eval_id),
         |cos AS (SELECT train_id, eval_id,
         |          CAST(dot AS DOUBLE) / (nt.nrm * ne.nrm) AS cos
         |        FROM dots
         |        JOIN norms nt ON nt.vec_id = train_id
         |        JOIN norms ne ON ne.vec_id = eval_id)
         |SELECT train_id, eval_id, cos FROM cos
         |WHERE cos >= 0.3 ORDER BY train_id, eval_id""".stripMargin,

    // Mirrors Multimodal.exactMediaDuplicates: DuckDB strings are
    // UTF-8, so md5(text) == Spark's md5 over the synthesized bytes
    "q108_media_dedup" ->
      """SELECT md5(text) AS fp,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |       ELSE 'video' END AS modality,
        |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1, 2 ORDER BY fp, modality""".stripMargin,

    // Mirrors Multimodal.videoFrameDuplicates: the oracle regenerates
    // each decoded frame's canonical pixel stream ('8x6:' + r,g,b in
    // raster order) straight from the synthesis formulas — the hash
    // gate therefore pins container walk + frame decode + dedup
    "q109_frame_dedup" ->
      """WITH vf AS (SELECT doc_id AS media_id,
        |         unnest(generate_series(0, CAST(1 + doc_id % 3 AS BIGINT)))
        |           AS frame_no
        |       FROM documents WHERE doc_id % 3 = 2),
        |px AS (SELECT media_id, frame_no, p,
        |         (media_id + 17 * frame_no + 7 * p) % 256 AS r,
        |         (2 * media_id + 17 * frame_no + 11 * p + 1) % 256 AS g,
        |         (5 * media_id + 17 * frame_no + 13 * p + 2) % 256 AS b
        |       FROM vf, (SELECT unnest(generate_series(0, 47)) AS p)),
        |ffp AS (SELECT media_id, frame_no,
        |          md5('8x6:' || string_agg(
        |            CAST(r AS VARCHAR) || ',' || CAST(g AS VARCHAR) ||
        |              ',' || CAST(b AS VARCHAR), ',' ORDER BY p)) AS fp
        |        FROM px GROUP BY media_id, frame_no),
        |r AS (SELECT fp, media_id, frame_no,
        |        row_number() OVER (PARTITION BY fp
        |          ORDER BY media_id, frame_no) AS rn,
        |        COUNT(*) OVER (PARTITION BY fp) AS n_copies
        |      FROM ffp)
        |SELECT fp, media_id AS keep_media_id,
        |  CAST(frame_no AS BIGINT) AS keep_frame_no,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin,

    // Mirrors Multimodal.chunkFrameDuplicates (the codec-independent
    // fallback): every 4th 256-byte chunk of each video payload = 512
    // hex chars of the q37 hex expansion; md5 over the hex STRING on
    // both sides (encoding-independent)
    "q235_chunk_frame_dedup" ->
      """WITH vid AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
        |               octet_length(encode(text)) AS blen
        |             FROM documents WHERE doc_id % 3 = 2 AND
        |               octet_length(encode(text)) > 0),
        |fr AS (SELECT media_id, hx,
        |         unnest(generate_series(0,
        |           CAST((blen - 1) // 256 AS BIGINT), 4)) AS frame_no
        |       FROM vid),
        |ffp AS (SELECT media_id, frame_no,
        |          md5(substr(hx, CAST(frame_no * 512 + 1 AS BIGINT), 512))
        |            AS fp
        |        FROM fr),
        |r AS (SELECT fp, media_id, frame_no,
        |        row_number() OVER (PARTITION BY fp
        |          ORDER BY media_id, frame_no) AS rn,
        |        COUNT(*) OVER (PARTITION BY fp) AS n_copies
        |      FROM ffp)
        |SELECT fp, media_id AS keep_media_id,
        |  CAST(frame_no AS BIGINT) AS keep_frame_no,
        |  CAST(n_copies AS BIGINT) AS n_copies
        |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin,

    // Mirrors Multimodal.imageDHashes: the 9x8 luma grid sampled with
    // the resize index math, 64 difference bits packed into two
    // 32-bit halves — every bit regenerated from the synthesis
    // formulas
    "q236_image_dhash" ->
      s"""WITH $dhashBaseCte
         |SELECT media_id, dhash_lo, dhash_hi FROM dh
         |ORDER BY media_id""".stripMargin,

    // Mirrors Multimodal.imageNearDuplicates over the store + its 2x
    // upscaled copies (id + 10^7): 4x16-bit bands, buckets capped at
    // 64, exact Hamming verify <= 3. The upscaled hashes REPLAY the
    // composed double-floor sampling (upscaled pixel (x, y) = source
    // (x div 2, y div 2)), so the gate also proves the upscale
    // invariance the engine claims
    "q237_image_neardups" ->
      s"""WITH $dhashBaseCte,
         |$dhashUpCte,
         |allh AS (SELECT * FROM dh UNION ALL SELECT * FROM dhup),
         |bands AS (SELECT media_id, band,
         |    CASE band
         |      WHEN 0 THEN dhash_lo % 65536
         |      WHEN 1 THEN dhash_lo // 65536
         |      WHEN 2 THEN dhash_hi % 65536
         |      ELSE dhash_hi // 65536 END AS v
         |  FROM allh, (SELECT unnest(generate_series(0, 3)) AS band)),
         |cool AS (SELECT band, v FROM bands GROUP BY band, v
         |         HAVING COUNT(*) <= 64),
         |inc AS (SELECT b.media_id, b.band, b.v
         |        FROM bands b JOIN cool c USING (band, v)),
         |cand AS (SELECT DISTINCT a.media_id AS id1, b.media_id AS id2
         |         FROM inc a JOIN inc b
         |           ON b.band = a.band AND b.v = a.v
         |           AND a.media_id < b.media_id)
         |SELECT c.id1, c.id2,
         |  CAST(bit_count(xor(h1.dhash_lo, h2.dhash_lo)) +
         |       bit_count(xor(h1.dhash_hi, h2.dhash_hi)) AS BIGINT)
         |    AS hamming
         |FROM cand c JOIN allh h1 ON h1.media_id = c.id1
         |JOIN allh h2 ON h2.media_id = c.id2
         |WHERE bit_count(xor(h1.dhash_lo, h2.dhash_lo)) +
         |      bit_count(xor(h1.dhash_hi, h2.dhash_hi)) <= 3
         |ORDER BY id1, id2""".stripMargin,

    // Mirrors SkewJoin.saltedAgg over documents.source: salting is
    // pure partitioning — merged partial counts ARE the plain GROUP BY
    "q110_salted_agg" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // Token-window substring dedup: the oracle keys windows on their
    // md5 like Spark (identical hex both engines); see spanCoverageCtes.
    "q111_dup_spans" ->
      s"""WITH $tokenWindowsCte,
         |$spanCoverageCtes
         |SELECT l.doc_id, l.n_tokens,
         |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |  CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / l.n_tokens
         |    AS dup_fraction
         |FROM lens l LEFT JOIN cov c USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin,

    // Deterministic bloom over window fingerprints; see bloomHitCtes.
    "q113_bloom_decontam" ->
      s"""WITH $tokenWindowsCte,
         |$bloomHitCtes
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit_windows
         |FROM hit GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Composed span-family curation: both chains over ONE window CTE;
    // keep = train ∧ windowable ∧ ≤half-duplicated ∧ not bloom-hit.
    "q114_span_clean" ->
      s"""WITH $tokenWindowsCte,
         |$spanCoverageCtes,
         |$bloomHitCtes
         |SELECT d.doc_id, d.source FROM documents d
         |JOIN (SELECT l.doc_id FROM lens l
         |      LEFT JOIN cov c USING (doc_id)
         |      WHERE COALESCE(c.dup_tokens, 0) * 2 <= l.n_tokens) keep
         |  USING (doc_id)
         |WHERE d.doc_id % 10 <> 0
         |  AND d.doc_id NOT IN (SELECT DISTINCT doc_id FROM hit)
         |ORDER BY d.doc_id""".stripMargin,

    // One-row calibration: bloom (train doc, window) hit pairs vs the
    // exact shared-window join; integer counts, one final division.
    "q115_bloom_calibration" ->
      s"""WITH $tokenWindowsCte,
         |$bloomHitCtes,
         |exact AS (SELECT dw.doc_id, dw.fp FROM dw
         |          JOIN ev USING (fp) WHERE doc_id % 10 <> 0)
         |SELECT CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_bloom_hits,
         |  CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact_hits,
         |  CAST((SELECT COUNT(*) FROM hit) -
         |       (SELECT COUNT(*) FROM exact) AS DOUBLE) /
         |    (SELECT COUNT(*) FROM hit) AS fp_excess""".stripMargin,

    // Per-source rollup of the q111 per-doc coverage stats.
    "q116_source_span_profile" ->
      s"""WITH $tokenWindowsCte,
         |$spanCoverageCtes,
         |perdoc AS (SELECT l.doc_id, l.n_tokens,
         |             COALESCE(c.dup_tokens, 0) AS dup_tokens
         |           FROM lens l LEFT JOIN cov c USING (doc_id))
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN p.dup_tokens > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_with_dups,
         |  CAST(SUM(p.n_tokens) AS BIGINT) AS total_tokens,
         |  CAST(SUM(p.dup_tokens) AS BIGINT) AS total_dup_tokens,
         |  CAST(SUM(p.dup_tokens) AS DOUBLE) / SUM(p.n_tokens)
         |    AS dup_token_share
         |FROM perdoc p JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Top-20 repeated spans: total order (n_occ DESC, span ASC) makes
    // the limit-20 set deterministic in both engines.
    "q112_top_spans" ->
      s"""WITH $tokenWindowsCte
         |SELECT array_to_string(toks[pos:pos+7], ' ') AS span,
         |  CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT wins.doc_id) AS BIGINT) AS n_docs
         |FROM wins JOIN tok ON wins.doc_id = tok.doc_id
         |GROUP BY span HAVING COUNT(*) >= 2
         |ORDER BY n_occ DESC, span LIMIT 20""".stripMargin,

    // Mirrors Similarity.pqEncode: per-subspace k-means over the
    // shared flatCte quantization, exact integer squared-L2
    "q117_pq_encode" ->
      s"""WITH $flatCte,
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)}
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub,
         |  CAST(code AS BIGINT) AS code, qerr
         |FROM penc ORDER BY vec_id, sub""".stripMargin,

    // Mirrors Similarity.pqAdcTopK: ADC = the query-side exact
    // subvector vs codeword LUT, summed over the corpus codes
    "q118_pq_ann" ->
      s"""WITH $flatCte,
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)},
         |plut AS (SELECT s.vec_id AS qid, s.sub, c.c_id AS code,
         |           CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS d
         |         FROM sflat s JOIN p2 c ON c.sub = s.sub AND c.j = s.j
         |         WHERE s.vec_id < 10
         |         GROUP BY s.vec_id, s.sub, c.c_id),
         |padc AS (SELECT l.qid, e.vec_id AS cid,
         |           CAST(SUM(l.d) AS BIGINT) AS adist
         |         FROM penc e JOIN plut l
         |           ON l.sub = e.sub AND l.code = e.code
         |         WHERE l.qid <> e.vec_id
         |         GROUP BY l.qid, e.vec_id)
         |SELECT qid, cid, adist, rn FROM (
         |  SELECT qid, cid, adist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adist, cid) AS BIGINT) AS rn
         |  FROM padc)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.pqRecall: q30's brute-force truth vs the PQ
    // ADC top-5 — the q82 evaluation protocol on the compressed index
    "q119_pq_recall" ->
      s"""WITH $flatCte,
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)},
         |bd AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |       FROM flat q JOIN flat c ON q.i = c.i
         |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |       GROUP BY q.vec_id, c.vec_id),
         |bc AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |       FROM bd JOIN norms nq ON nq.vec_id = qid
         |       JOIN norms nc ON nc.vec_id = cid),
         |tr AS (SELECT qid, cid FROM (
         |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid) AS rn FROM bc)
         |       WHERE rn <= 5),
         |plut AS (SELECT s.vec_id AS qid, s.sub, c.c_id AS code,
         |           CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS d
         |         FROM sflat s JOIN p2 c ON c.sub = s.sub AND c.j = s.j
         |         WHERE s.vec_id < 10
         |         GROUP BY s.vec_id, s.sub, c.c_id),
         |padc AS (SELECT l.qid, e.vec_id AS cid,
         |           CAST(SUM(l.d) AS BIGINT) AS adist
         |         FROM penc e JOIN plut l
         |           ON l.sub = e.sub AND l.code = e.code
         |         WHERE l.qid <> e.vec_id
         |         GROUP BY l.qid, e.vec_id),
         |ap AS (SELECT qid, cid, 1 AS hit FROM (
         |         SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |           ORDER BY adist, cid) AS rn FROM padc)
         |       WHERE rn <= 5),
         |agg AS (SELECT tr.qid, COUNT(*) AS n_truth,
         |          COALESCE(SUM(ap.hit), 0) AS n_hit
         |        FROM tr LEFT JOIN ap ON tr.qid = ap.qid AND tr.cid = ap.cid
         |        GROUP BY tr.qid)
         |SELECT qid, CAST(n_truth AS BIGINT) AS n_truth,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST(round(1e6 * n_hit / n_truth) AS BIGINT) AS recall_micro
         |FROM agg ORDER BY qid""".stripMargin,

    // Mirrors Similarity.embeddingDrift over the parity-split
    // snapshots: per-(label, dim) floor(sum/count) centroids, exact
    // BIGINT dots/norms, one final sqrt/div/round
    "q123_embedding_drift" ->
      s"""WITH $flatCte,
         |co AS (SELECT e.label, f.i AS d,
         |         CAST(floor(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |       FROM flat f JOIN embeddings e ON e.vec_id = f.vec_id
         |       WHERE f.vec_id % 2 = 0 GROUP BY e.label, f.i),
         |cn AS (SELECT e.label, f.i AS d,
         |         CAST(floor(CAST(SUM(f.v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
         |       FROM flat f JOIN embeddings e ON e.vec_id = f.vec_id
         |       WHERE f.vec_id % 2 = 1 GROUP BY e.label, f.i),
         |agg AS (SELECT co.label, SUM(co.c * cn.c) AS dot,
         |          SUM(co.c * co.c) AS no2, SUM(cn.c * cn.c) AS nn2
         |        FROM co JOIN cn ON co.label = cn.label AND co.d = cn.d
         |        GROUP BY co.label),
         |cnts AS (SELECT label,
         |           CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_old,
         |           CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
         |             AS BIGINT) AS n_new
         |         FROM embeddings GROUP BY label)
         |SELECT CAST(a.label AS BIGINT) AS label, c.n_old, c.n_new,
         |  CAST(dot AS DOUBLE) / (sqrt(CAST(no2 AS DOUBLE)) *
         |    sqrt(CAST(nn2 AS DOUBLE))) AS cos_shift,
         |  CAST(round(1e6 * sqrt(CAST(nn2 AS DOUBLE)) /
         |    sqrt(CAST(no2 AS DOUBLE))) AS BIGINT) AS norm_ratio_micro
         |FROM agg a JOIN cnts c ON c.label = a.label
         |ORDER BY label""".stripMargin,

    // Mirrors Bpe.bpeTrain(merges = 6): the full training replay —
    // each iteration's best pair is the contract row
    "q124_bpe_merges" -> {
      val rows = (1 to 6).map(r =>
        s"SELECT CAST($r AS BIGINT) AS rank, a AS lhs, b AS rhs, " +
          s"cnt AS pair_count FROM bbp$r").mkString("\n|UNION ALL ")
      s"""WITH ${bpeCte(6)}
         |$rows
         |ORDER BY rank""".stripMargin
    },

    // Mirrors Bpe.segmentSymbols under the 6 trained merges: the
    // final symbol table of the q124 training chain
    "q125_bpe_segment" ->
      s"""WITH ${bpeCte(6)}
         |SELECT word, n, pos, sym FROM bs6
         |ORDER BY word, pos""".stripMargin,

    // Mirrors Layout.zorderKey(bits = 20): identical bit interleave
    // in DuckDB's BIGINT shift/mask arithmetic
    "q120_zorder" -> {
      val terms = (0 until 20).map(i =>
        s"((((CAST(l_orderkey AS BIGINT) >> $i) & 1) << ${2 * i + 1}) | " +
          s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i}))")
        .mkString(" | ")
      s"""SELECT l_orderkey, l_partkey, CAST($terms AS BIGINT) AS zkey
         |FROM lineitem ORDER BY l_orderkey, l_partkey""".stripMargin
    },

    // Mirrors Sketches.cmsHeavyHitters(depth=4, width=1024, topK=50):
    // type table once, ×4 row expansion on the vocabulary, md5-derived
    // cell coordinates, min-over-rows estimates for the exact top-50
    "q127_cms_heavy" ->
      s"""WITH tt AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM (
         |    SELECT unnest(string_split($norm, ' ')) AS tok FROM documents)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |cells AS (SELECT CAST(r AS BIGINT) AS rw,
         |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || tok),
         |      1, 8)) AS BIGINT) % 1024 AS cl,
         |    CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM tt CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r)
         |  GROUP BY rw, cl),
         |top AS (SELECT tok, n AS exact_n FROM tt
         |        ORDER BY n DESC, tok LIMIT 50),
         |probes AS (SELECT tok, exact_n, CAST(r AS BIGINT) AS rw,
         |    CAST(concat('0x', substr(md5(CAST(r AS VARCHAR) || ':' || tok),
         |      1, 8)) AS BIGINT) % 1024 AS cl
         |  FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r))
         |SELECT p.tok AS token, p.exact_n, MIN(c.cnt) AS est_n
         |FROM probes p JOIN cells c ON c.rw = p.rw AND c.cl = p.cl
         |GROUP BY p.tok, p.exact_n
         |ORDER BY token""".stripMargin,

    // Mirrors Dedup.pairPageRank(iters = 3) over the q26 dup pairs:
    // undirected edges, BIGINT floor-division contributions, damping
    // 85//100 in micro units — the exact-integer PageRank replay
    "q128_pagerank" -> {
      val prIters = (1 to 3).map { k =>
        val prev = if (k == 1) "pr0" else s"pr${k - 1}"
        s"""pr$k AS (SELECT e.dst AS id,
           |    CAST(150000 + (85 * SUM(p.pr // d.deg)) // 100 AS BIGINT) AS pr
           |  FROM edges e
           |  JOIN deg d ON d.src = e.src
           |  JOIN $prev p ON p.id = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $dupPairsCtes,
         |edges AS (SELECT id1 AS src, id2 AS dst FROM dup
         |          UNION ALL SELECT id2 AS src, id1 AS dst FROM dup),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |pr0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |$prIters
         |SELECT id AS doc_id, pr AS pr_micro FROM pr3
         |ORDER BY doc_id""".stripMargin
    },

    // Mirrors Curation.weightedSample(k = 100): A-ES keys compared in
    // log space as exact integers — truncated division on
    // non-negative operands so Spark `div` and DuckDB `//` agree
    "q129_weighted_sample" ->
      s"""WITH base AS (SELECT doc_id, source, $norm AS norm FROM documents),
         |wt AS (SELECT doc_id, source,
         |    GREATEST(CAST($nTokens AS BIGINT), 1) AS n_tok,
         |    CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
         |      1, 12)) AS BIGINT) AS h
         |  FROM base),
         |keyed AS (SELECT doc_id, source, n_tok,
         |    -((-CAST(floor(1000000.0 * ln((h + 1) / 281474976710656.0))
         |        AS BIGINT)) // n_tok) AS aes_key
         |  FROM wt)
         |SELECT doc_id, source, n_tok, CAST(aes_key AS BIGINT) AS aes_key
         |FROM keyed ORDER BY aes_key DESC, doc_id LIMIT 100""".stripMargin,

    // Mirrors SubstringDedup.removeSpans: q111's window CTEs, covered
    // token positions exploded from the duplicated hits, kept tokens
    // reassembled in position order (all-removed docs come back '')
    "q132_span_rewrite" ->
      s"""WITH $tokenWindowsCte,
         |dup AS (SELECT fp FROM wins GROUP BY fp HAVING COUNT(*) >= 2),
         |hits AS (SELECT doc_id, pos FROM wins JOIN dup USING (fp)),
         |cov AS (SELECT DISTINCT doc_id, pos + o AS tpos
         |        FROM hits CROSS JOIN
         |          (SELECT unnest(generate_series(0, 7)) AS o)),
         |tp AS (SELECT doc_id, toks,
         |         unnest(generate_series(1, len(toks))) AS tpos FROM tok),
         |tokp AS (SELECT doc_id, tpos, toks[tpos] AS tok_s FROM tp),
         |keptagg AS (SELECT t.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS kept_n,
         |    string_agg(t.tok_s, ' ' ORDER BY t.tpos) AS clean_text
         |  FROM tokp t LEFT JOIN cov c
         |    ON c.doc_id = t.doc_id AND c.tpos = t.tpos
         |  WHERE c.doc_id IS NULL GROUP BY t.doc_id),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |         FROM tok)
         |SELECT l.doc_id, l.n_tokens,
         |  l.n_tokens - COALESCE(k.kept_n, 0) AS removed_tokens,
         |  COALESCE(k.clean_text, '') AS clean_text
         |FROM lens l LEFT JOIN keptagg k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.tokenBudgetTrim(budget = 10000): q23's quality
    // CTE, level histogram with desc cumsum, boundary doc cumsum
    "q145_token_budget" ->
      s"""WITH $qualityCte,
         |nt AS (SELECT doc_id, CAST($nTokens AS BIGINT) AS n_tok
         |       FROM (SELECT doc_id, $norm AS norm FROM documents)),
         |sc AS (SELECT q.doc_id, q.quality, nt.n_tok
         |       FROM qual q JOIN nt USING (doc_id)),
         |hist AS (SELECT quality, CAST(SUM(n_tok) AS BIGINT) AS q_tok
         |         FROM sc GROUP BY quality),
         |hc AS (SELECT quality, q_tok,
         |    CAST(COALESCE(SUM(q_tok) OVER (ORDER BY quality DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM hist),
         |dc AS (SELECT sc.doc_id, sc.quality, sc.n_tok, hc.q_tok,
         |         hc.cum_before,
         |         CAST(SUM(sc.n_tok) OVER (PARTITION BY sc.quality
         |           ORDER BY sc.doc_id ROWS UNBOUNDED PRECEDING)
         |           AS BIGINT) AS doc_cum
         |       FROM sc JOIN hc USING (quality))
         |SELECT doc_id, quality, n_tok,
         |  (cum_before + q_tok <= 10000)
         |    OR (cum_before < 10000 AND cum_before + doc_cum <= 10000)
         |    AS keep
         |FROM dc ORDER BY doc_id""".stripMargin,

    // Mirrors Events.rollingActives(windowDays = 7): day spine range
    // join over distinct (user, day) activity
    "q152_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS uday
        |            FROM events),
        |days AS (SELECT DISTINCT uday AS day FROM ud)
        |SELECT d.day,
        |  CAST(COUNT(DISTINCT CASE WHEN u.uday = d.day
        |    THEN u.user_id END) AS BIGINT) AS dau,
        |  CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
        |FROM days d JOIN ud u
        |  ON u.uday >= d.day - 6 AND u.uday <= d.day
        |GROUP BY d.day ORDER BY d.day""".stripMargin,

    // Mirrors Similarity.coarseProbeCurve: one shared two-level
    // prefix, four probe replays, agreement vs ivfCte's flat `assign`
    "q155_probe_curve" -> {
      val legs = (1 to 4).map(p =>
        s"""SELECT CAST($p AS BIGINT) AS probe,
           |  CAST(COUNT(*) AS BIGINT) AS n_vectors,
           |  CAST(SUM(CASE WHEN a.cell = f.cell THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_agree
           |FROM assign2_p$p a JOIN assign f ON f.vec_id = a.vec_id"""
          .stripMargin).mkString("\nUNION ALL\n")
      s"""WITH $flatCte,
         |${twoLevelPrefixCte(16, 2, 4)},
         |${probeAssignCte(1, "_p1")},
         |${probeAssignCte(2, "_p2")},
         |${probeAssignCte(3, "_p3")},
         |${probeAssignCte(4, "_p4")}
         |SELECT probe, n_vectors, n_agree,
         |  (n_agree * 1000000) // n_vectors AS agree_micro
         |FROM ($legs)
         |ORDER BY probe""".stripMargin
    },

    // Mirrors the q154 entry: index = even docs' window counts, batch
    // = odd docs; hit when index+batch count >= 2; same island
    // coverage as q111 over the batch hits only
    "q154_incremental_spans" ->
      s"""WITH $tokenWindowsCte,
         |idx AS (SELECT fp, COUNT(*) AS n_idx FROM wins
         |        WHERE doc_id % 2 = 0 GROUP BY fp),
         |bc AS (SELECT doc_id, pos, fp,
         |         COUNT(*) OVER (PARTITION BY fp) AS n_batch
         |       FROM wins WHERE doc_id % 2 = 1),
         |hits AS (SELECT bc.doc_id, bc.pos FROM bc LEFT JOIN idx USING (fp)
         |         WHERE COALESCE(n_idx, 0) + n_batch >= 2),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN pos > COALESCE(MAX(pos + 7) OVER (PARTITION BY doc_id
         |    ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    -1) THEN 1 ELSE 0 END AS is_start
         |  FROM hits),
         |grp AS (SELECT doc_id, pos, SUM(is_start) OVER (PARTITION BY doc_id
         |        ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g FROM isl),
         |cov AS (SELECT doc_id, CAST(SUM(maxe - mins + 1) AS BIGINT)
         |          AS dup_tokens FROM (
         |        SELECT doc_id, g, MIN(pos) AS mins, MAX(pos) + 7 AS maxe
         |        FROM grp GROUP BY doc_id, g) GROUP BY doc_id),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |         FROM tok WHERE len(toks) >= 8 AND doc_id % 2 = 1)
         |SELECT l.doc_id, l.n_tokens,
         |  COALESCE(c.dup_tokens, 0) AS dup_tokens,
         |  CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / l.n_tokens
         |    AS dup_fraction
         |FROM lens l LEFT JOIN cov c USING (doc_id)
         |ORDER BY l.doc_id""".stripMargin,

    // Mirrors Curation.epochShuffle(epoch = 3, nShards = 8):
    // md5("3:"||doc_id) order key, first-8-hex shard mod 8,
    // shard-local rank
    "q153_epoch_shuffle" ->
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY h, doc_id) AS BIGINT) AS pos
        |FROM (SELECT doc_id, h,
        |        CAST(concat('0x', substr(h, 1, 8)) AS BIGINT) % 8 AS shard
        |      FROM (SELECT doc_id,
        |              md5('3:' || CAST(doc_id AS VARCHAR)) AS h
        |            FROM documents))
        |ORDER BY shard, pos""".stripMargin,

    // Mirrors Events.robustOutliers: run-length lower medians
    // (rk = (n+1)//2) for value and absolute deviation, k=3 gate
    "q144_robust_outliers" ->
      """WITH cents AS (SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |vr AS (SELECT event_type, cents AS v, COUNT(*) AS c
        |       FROM cents GROUP BY event_type, cents),
        |vc AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM vr),
        |med AS (SELECT event_type, v AS med_cents FROM vc
        |        WHERE (n + 1) // 2 > cum - c AND (n + 1) // 2 <= cum),
        |dev AS (SELECT c0.event_type, c0.event_id, c0.cents, m.med_cents,
        |          abs(c0.cents - m.med_cents) AS absdev
        |        FROM cents c0 JOIN med m USING (event_type)),
        |ar AS (SELECT event_type, absdev AS v, COUNT(*) AS c
        |       FROM dev GROUP BY event_type, absdev),
        |ac AS (SELECT event_type, v, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n
        |  FROM ar),
        |mad AS (SELECT event_type, v AS mad_cents FROM ac
        |        WHERE (n + 1) // 2 > cum - c AND (n + 1) // 2 <= cum)
        |SELECT d.event_type, d.event_id, d.cents, d.med_cents,
        |  md.mad_cents, d.absdev
        |FROM dev d JOIN mad md USING (event_type)
        |WHERE (md.mad_cents > 0 AND d.absdev > 3 * md.mad_cents)
        |   OR (md.mad_cents = 0 AND d.absdev > 0)
        |ORDER BY d.absdev DESC, d.event_id ASC LIMIT 20""".stripMargin,

    // Mirrors Curation.contaminationByBenchmark: q43's CTEs with the
    // (doc_id // 10) parity benchmark labels
    "q143_bench_contamination" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 8) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 7, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |evb AS (SELECT DISTINCT CASE WHEN (doc_id // 10) % 2 = 0
         |          THEN 'benchA' ELSE 'benchB' END AS benchmark, shingle
         |        FROM shr WHERE doc_id % 10 = 0),
         |ne AS (SELECT CASE WHEN (doc_id // 10) % 2 = 0
         |         THEN 'benchA' ELSE 'benchB' END AS benchmark,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_eval_docs
         |       FROM shr WHERE doc_id % 10 = 0 GROUP BY 1),
         |ct AS (SELECT e.benchmark,
         |         CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_contaminated_train,
         |         CAST(COUNT(*) AS BIGINT) AS n_shared_rows
         |       FROM shr s JOIN evb e USING (shingle)
         |       WHERE s.doc_id % 10 <> 0 GROUP BY e.benchmark)
         |SELECT n.benchmark, n.n_eval_docs,
         |  COALESCE(ct.n_contaminated_train, 0) AS n_contaminated_train,
         |  COALESCE(ct.n_shared_rows, 0) AS n_shared_rows
         |FROM ne n LEFT JOIN ct USING (benchmark)
         |ORDER BY benchmark""".stripMargin,

    // Mirrors TextAnalysis.piiReport: q57's planted/regex CTEs
    // aggregated per source with the exact-integer rate
    "q142_pii_report" ->
      s"""WITH planted AS (SELECT doc_id,
         |    $norm ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/d/' ||
         |      CAST(doc_id AS VARCHAR) ELSE '' END AS txt
         |  FROM documents),
         |cnt AS (SELECT doc_id,
         |    CAST(len(regexp_extract_all(txt,
         |      '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+')) AS BIGINT) AS n_emails,
         |    CAST(len(regexp_extract_all(txt,
         |      'https?://[a-z0-9./_-]+')) AS BIGINT) AS n_urls
         |  FROM planted)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN n_emails + n_urls > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_docs_with_pii,
         |  CAST(SUM(n_emails) AS BIGINT) AS total_emails,
         |  CAST(SUM(n_urls) AS BIGINT) AS total_urls,
         |  CAST(SUM(CASE WHEN n_emails + n_urls > 0 THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS pii_rate_micro
         |FROM cnt JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // Mirrors Similarity.twoLevelAssign: q34's centroid training,
    // coarse = the 4 smallest-c_id fine centroids, fine->group and
    // both probes replayed with the same tie rules
    "q148_two_level_assign" ->
      s"""WITH $flatCte,
         |${twoLevelCte(nCentroids = 16, lloydIters = 2, coarse = 4, coarseProbe = 2)}
         |SELECT vec_id, cell FROM assign2 ORDER BY vec_id""".stripMargin,

    // Mirrors Similarity.labelNoise: q141's directed-pair CTEs with
    // labels, rank <= 5 regardless of threshold, exact-integer rate
    "q146_label_noise" -> {
      s"""WITH $flatCte,
         |${twoLevelCte(nCentroids = 16, lloydIters = 2, coarse = 4, coarseProbe = 2)},
         |szok AS (SELECT cell FROM assign2 GROUP BY cell HAVING COUNT(*) <= 256),
         |memb AS (SELECT assign2.vec_id, assign2.cell, e.label
         |         FROM assign2 JOIN szok USING (cell)
         |         JOIN embeddings e ON e.vec_id = assign2.vec_id),
         |pairs AS (SELECT a.vec_id, a.label, b.vec_id AS nb_id,
         |            b.label AS nb_label, a.cell
         |          FROM memb a JOIN memb b
         |          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |dots AS (SELECT p.vec_id, p.label, p.nb_id, p.nb_label,
         |           SUM(f1.v * f2.v) AS dot
         |         FROM pairs p
         |         JOIN flat f1 ON f1.vec_id = p.vec_id
         |         JOIN flat f2 ON f2.vec_id = p.nb_id AND f2.i = f1.i
         |         GROUP BY p.vec_id, p.label, p.nb_id, p.nb_label),
         |cs AS (SELECT d.vec_id, d.label, d.nb_id, d.nb_label,
         |         CAST(d.dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
         |       FROM dots d
         |       JOIN norms na ON na.vec_id = d.vec_id
         |       JOIN norms nb ON nb.vec_id = d.nb_id),
         |nn AS (SELECT vec_id, label, nb_label FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id
         |           ORDER BY cos DESC, nb_id ASC) AS rn FROM cs)
         |       WHERE rn <= 5)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(COUNT(*) AS BIGINT) AS n_nb,
         |  CAST(SUM(CASE WHEN nb_label <> label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_disagree,
         |  CAST(SUM(CASE WHEN nb_label <> label THEN 1 ELSE 0 END)
         |    * 1000000 // COUNT(*) AS BIGINT) AS disagree_micro
         |FROM nn GROUP BY vec_id, label
         |ORDER BY vec_id""".stripMargin
    },

    // Mirrors Similarity.hardNegatives: q49's cell CTEs, DIRECTED
    // pairs under the positive threshold, per-anchor rank
    "q141_hard_negatives" ->
      s"""WITH $flatCte,
         |${twoLevelCte(nCentroids = 16, lloydIters = 2, coarse = 4, coarseProbe = 2)},
         |szok AS (SELECT cell FROM assign2 GROUP BY cell HAVING COUNT(*) <= 256),
         |memb AS (SELECT assign2.vec_id, assign2.cell FROM assign2 JOIN szok USING (cell)),
         |pairs AS (SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id, a.cell
         |          FROM memb a JOIN memb b
         |          ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |dots AS (SELECT p.anchor_id, p.neg_id, p.cell, SUM(f1.v * f2.v) AS dot
         |         FROM pairs p
         |         JOIN flat f1 ON f1.vec_id = p.anchor_id
         |         JOIN flat f2 ON f2.vec_id = p.neg_id AND f2.i = f1.i
         |         GROUP BY p.anchor_id, p.neg_id, p.cell),
         |cs AS (SELECT anchor_id, neg_id, cell,
         |         CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS cos
         |       FROM dots
         |       JOIN norms na ON na.vec_id = anchor_id
         |       JOIN norms nb ON nb.vec_id = neg_id),
         |neg AS (SELECT anchor_id, neg_id, cell, cos,
         |          CAST(row_number() OVER (PARTITION BY anchor_id
         |            ORDER BY cos DESC, neg_id ASC) AS BIGINT) AS rn
         |        FROM cs WHERE cos < 0.35)
         |SELECT anchor_id, neg_id, cell, cos, rn FROM neg
         |WHERE rn <= 5 ORDER BY anchor_id, rn""".stripMargin,

    // Mirrors Dedup.sourceContainmentMatrix: q140's ct CTE labeled
    // with sources, contained = smaller set, ties lexicographic
    "q147_source_containment" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM shr a JOIN shr b
         |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
         |           FROM cands c
         |           JOIN sh a ON a.doc_id = c.id1
         |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |           GROUP BY c.id1, c.id2),
         |ct AS (SELECT id1, id2, s1.sz AS sz1, s2.sz AS sz2,
         |        CAST(common AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)
         |          AS containment
         |      FROM common
         |      JOIN sizes s1 ON s1.doc_id = id1
         |      JOIN sizes s2 ON s2.doc_id = id2),
         |lab AS (SELECT
         |    CASE WHEN sz1 < sz2 THEN d2.source
         |         WHEN sz2 < sz1 THEN d1.source
         |         ELSE greatest(d1.source, d2.source) END AS container_src,
         |    CASE WHEN sz1 < sz2 THEN d1.source
         |         WHEN sz2 < sz1 THEN d2.source
         |         ELSE least(d1.source, d2.source) END AS contained_src
         |  FROM ct
         |  JOIN documents d1 ON d1.doc_id = ct.id1
         |  JOIN documents d2 ON d2.doc_id = ct.id2
         |  WHERE containment >= 0.6)
         |SELECT container_src, contained_src,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM lab GROUP BY container_src, contained_src
         |ORDER BY container_src, contained_src""".stripMargin,

    // Mirrors Dedup.ngramContainmentPairs: q27's CTEs with the ratio
    // over the SMALLER set instead of the union
    "q140_containment" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents),
         |sh AS (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
         |       FROM docs)),
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM shr a JOIN shr b
         |          ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
         |           FROM cands c
         |           JOIN sh a ON a.doc_id = c.id1
         |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |           GROUP BY c.id1, c.id2),
         |ct AS (SELECT id1, id2, CAST(common AS BIGINT) AS common,
         |        CAST(s1.sz AS BIGINT) AS sz1, CAST(s2.sz AS BIGINT) AS sz2,
         |        CAST(common AS DOUBLE) / CAST(least(s1.sz, s2.sz) AS DOUBLE)
         |          AS containment
         |      FROM common
         |      JOIN sizes s1 ON s1.doc_id = id1
         |      JOIN sizes s2 ON s2.doc_id = id2)
         |SELECT id1, id2, common, sz1, sz2, containment FROM ct
         |WHERE containment >= 0.6 ORDER BY id1, id2""".stripMargin,

    // Mirrors TextAnalysis.rankedSearchAnd: q149's impacts filtered to
    // the terms, conjunctive HAVING, impact-sum rank
    "q150_ranked_search" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |          CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |dft AS (SELECT tok AS token, COUNT(DISTINCT doc_id) AS df
         |        FROM toks GROUP BY tok),
         |pd AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, tok),
         |imp AS (SELECT pd.token, pd.doc_id,
         |  CAST(floor(((CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |  (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
         |   (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
         |     0.75 * CAST(dl.dl AS DOUBLE) /
         |     (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) *
         |   1000000.0) AS BIGINT) AS ts_micro
         |  FROM pd JOIN dft USING (token) JOIN dl USING (doc_id)
         |  CROSS JOIN stats
         |  WHERE pd.token IN ('data', 'query', 'table'))
         |SELECT doc_id, CAST(SUM(ts_micro) AS BIGINT) AS score_micro
         |FROM imp GROUP BY doc_id HAVING COUNT(*) = 3
         |ORDER BY score_micro DESC, doc_id ASC LIMIT 20""".stripMargin,

    // Mirrors TextAnalysis.bm25TermTable: q139's score chain with NO
    // term filter -- every (token, doc) pair carries its impact
    "q149_bm25_impacts" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |          CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |dft AS (SELECT tok AS token, COUNT(DISTINCT doc_id) AS df
         |        FROM toks GROUP BY tok),
         |pd AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
         |       FROM toks GROUP BY doc_id, tok)
         |SELECT pd.token, pd.doc_id,
         |  CAST(floor(((CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |  (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
         |   (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
         |     0.75 * CAST(dl.dl AS DOUBLE) /
         |     (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) *
         |   1000000.0) AS BIGINT) AS ts_micro
         |FROM pd JOIN dft USING (token) JOIN dl USING (doc_id)
         |CROSS JOIN stats
         |ORDER BY token, doc_id""".stripMargin,

    // Mirrors TextAnalysis.bm25Batch: q62's double chain per term,
    // floored to micro, integer-summed per (query, doc), ranked
    "q139_bm25_batch" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |qt(query_id, token) AS (SELECT * FROM (VALUES
         |  (CAST(0 AS BIGINT), 'data'), (CAST(0 AS BIGINT), 'query'),
         |  (CAST(1 AS BIGINT), 'table'), (CAST(1 AS BIGINT), 'scan'),
         |  (CAST(2 AS BIGINT), 'stream'), (CAST(2 AS BIGINT), 'window'),
         |  (CAST(2 AS BIGINT), 'fast'))),
         |terms AS (SELECT DISTINCT token FROM qt),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |          CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |dfq AS (SELECT tok AS token, COUNT(DISTINCT doc_id) AS df
         |        FROM toks JOIN terms ON tok = token GROUP BY tok),
         |pd AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
         |       FROM toks JOIN terms ON tok = token GROUP BY doc_id, tok),
         |sc AS (SELECT pd.doc_id, pd.token,
         |    CAST(floor(((CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |    (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
         |     (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) +
         |       0.75 * CAST(dl.dl AS DOUBLE) /
         |       (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) *
         |     1000000.0) AS BIGINT) AS ts_micro
         |  FROM pd JOIN dfq USING (token) JOIN dl USING (doc_id)
         |  CROSS JOIN stats),
         |qs AS (SELECT q.query_id, s.doc_id,
         |         CAST(SUM(s.ts_micro) AS BIGINT) AS score_micro
         |       FROM sc s JOIN qt q ON q.token = s.token
         |       GROUP BY q.query_id, s.doc_id)
         |SELECT query_id, doc_id, score_micro, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS rn
         |  FROM qs)
         |WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // Mirrors SubstringDedup.removeSpansKeepOne: q132's rewrite with
    // the per-fingerprint rank-1 occurrence excluded from coverage
    "q138_span_keep_one" ->
      s"""WITH $tokenWindowsCte,
         |dw AS (SELECT doc_id, pos,
         |    CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_occ,
         |    CAST(row_number() OVER (PARTITION BY fp
         |      ORDER BY doc_id, pos) AS BIGINT) AS rn
         |  FROM wins),
         |hits AS (SELECT doc_id, pos FROM dw WHERE n_occ >= 2 AND rn > 1),
         |cov AS (SELECT DISTINCT doc_id, pos + o AS tpos
         |        FROM hits CROSS JOIN
         |          (SELECT unnest(generate_series(0, 7)) AS o)),
         |tp AS (SELECT doc_id, toks,
         |         unnest(generate_series(1, len(toks))) AS tpos FROM tok),
         |tokp AS (SELECT doc_id, tpos, toks[tpos] AS tok_s FROM tp),
         |keptagg AS (SELECT t.doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS kept_n,
         |    string_agg(t.tok_s, ' ' ORDER BY t.tpos) AS clean_text
         |  FROM tokp t LEFT JOIN cov c
         |    ON c.doc_id = t.doc_id AND c.tpos = t.tpos
         |  WHERE c.doc_id IS NULL GROUP BY t.doc_id),
         |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |         FROM tok)
         |SELECT l.doc_id, l.n_tokens,
         |  l.n_tokens - COALESCE(k.kept_n, 0) AS removed_tokens,
         |  COALESCE(k.clean_text, '') AS clean_text
         |FROM lens l LEFT JOIN keptagg k USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.weightedSamplePerSource(k = 20): q129's keys,
    // per-source rank window instead of a global top-k
    "q136_weighted_per_source" ->
      s"""WITH base AS (SELECT doc_id, source, $norm AS norm FROM documents),
         |wt AS (SELECT doc_id, source,
         |    GREATEST(CAST($nTokens AS BIGINT), 1) AS n_tok,
         |    CAST(concat('0x', substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
         |      1, 12)) AS BIGINT) AS h
         |  FROM base),
         |keyed AS (SELECT doc_id, source, n_tok,
         |    -((-CAST(floor(1000000.0 * ln((h + 1) / 281474976710656.0))
         |        AS BIGINT)) // n_tok) AS aes_key
         |  FROM wt)
         |SELECT doc_id, source, n_tok, CAST(aes_key AS BIGINT) AS aes_key,
         |  rn FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY aes_key DESC, doc_id ASC) AS BIGINT) AS rn
         |    FROM keyed)
         |WHERE rn <= 20 ORDER BY source, rn""".stripMargin,

    // Mirrors Curation.shardManifest over hashSplit: per split, doc
    // count, token count, md5 of doc-id-ordered fingerprints
    "q160_shard_manifest" ->
      s"""WITH sp AS (SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 AS b FROM documents)),
         |d AS (SELECT s.split, dd.doc_id,
         |    COALESCE(md5($norm), 'null') AS fp,
         |    COALESCE(CASE WHEN length($norm) = 0 THEN 0
         |         ELSE len(string_split($norm, ' ')) END, 0) AS n_tok
         |  FROM documents dd JOIN sp s ON s.doc_id = dd.doc_id)
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
         |  md5(string_agg(concat(CAST(doc_id AS VARCHAR), ':', fp), ''
         |    ORDER BY doc_id)) AS content_md5,
         |  CAST(SUM(CAST($unitDigSql AS HUGEINT))
         |    % 2305843009213693951 AS BIGINT) AS content_dig61
         |FROM d GROUP BY split ORDER BY split""".stripMargin,

    // Mirrors Curation.manifestDiff over two shardManifest receipts:
    // the new side's bucket-3 texts carry ' v2'
    "q163_manifest_diff" -> {
      def normOf(c: String): String =
        raw"trim(regexp_replace(lower($c), '\s+', ' ', 'g'))"
      def man(src: String, alias: String): String =
        s"""$alias AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |    CAST(SUM(COALESCE(CASE WHEN length(${normOf(src)}) = 0
           |      THEN 0 ELSE len(string_split(${normOf(src)}, ' ')) END, 0))
           |      AS BIGINT) AS n_tok,
           |    md5(string_agg(concat(CAST(doc_id AS VARCHAR), ':',
           |      COALESCE(md5(${normOf(src)}), 'null')), ''
           |      ORDER BY doc_id)) AS content_md5
           |  FROM base GROUP BY split)""".stripMargin
      s"""WITH sp AS (SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 AS b FROM documents)),
         |base AS (SELECT s.split, dd.doc_id, dd.text,
         |    CASE WHEN CAST(concat('0x', substr(md5(CAST(dd.doc_id AS
         |      VARCHAR)), 1, 8)) AS BIGINT) % 10 = 3
         |      THEN dd.text || ' v2' ELSE dd.text END AS ptext
         |  FROM documents dd JOIN sp s ON s.doc_id = dd.doc_id),
         |${man("text", "om")},
         |${man("ptext", "nm")}
         |SELECT COALESCE(o.split, n.split) AS split,
         |  CASE WHEN o.content_md5 IS NULL THEN 'added'
         |       WHEN n.content_md5 IS NULL THEN 'removed'
         |       WHEN o.content_md5 = n.content_md5 THEN 'unchanged'
         |       ELSE 'changed' END AS status,
         |  CAST(COALESCE(n.n_docs, 0) - COALESCE(o.n_docs, 0) AS BIGINT)
         |    AS docs_delta,
         |  CAST(COALESCE(n.n_tok, 0) - COALESCE(o.n_tok, 0) AS BIGINT)
         |    AS tok_delta
         |FROM om o FULL OUTER JOIN nm n ON n.split = o.split
         |ORDER BY 1""".stripMargin
    },

    // Mirrors Curation.shardManifest(subShards = 4): md5-bucketed
    // sub-shard hashes folded by an ordered outer md5
    "q162_manifest_hier" -> manifestHierSql("TRUE"),

    // q184 retracts the odd docs from the full-corpus unit store +
    // sub-manifest; the receipt must equal the batch hierarchical
    // manifest over the EVEN slice
    "q184_manifest_retract" -> manifestHierSql("doc_id % 2 = 0"),

    // q183 retracts the odd labeled docs from the full-corpus NB
    // counts; the whole corpus re-scored under the retracted model
    // must equal batch training on the EVEN labeled slice
    "q183_nb_retract" -> nbScoreSql("doc_id % 2 = 0"),

    // Mirrors Similarity.centroidClassifier: per-label floor(sum/n)
    // centroids on buckets 0-7, argmax cosine per vector
    "q158_centroid_classifier" ->
      s"""WITH $centClassCte
         |SELECT p.vec_id, CAST(e.label AS BIGINT) AS label,
         |  CAST(p.clabel AS BIGINT) AS pred_label, p.ccos AS best_cos
         |FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
         |ORDER BY p.vec_id""".stripMargin,

    // Mirrors Similarity.centroidClassifierEval: held-out (buckets
    // 8-9) confusion matrix
    "q159_centroid_eval" ->
      s"""WITH $centClassCte
         |SELECT CAST(e.label AS BIGINT) AS label,
         |  CAST(p.clabel AS BIGINT) AS pred_label,
         |  CAST(COUNT(*) AS BIGINT) AS n_vecs
         |FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
         |WHERE CAST(concat('0x', substr(md5(CAST(p.vec_id AS VARCHAR)), 1, 8))
         |  AS BIGINT) % 10 >= 8
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Mirrors TextAnalysis.nbClassifierScores: NB trained src0-2 vs
    // src3-5 over the whole labeled slice, every doc scored with the
    // integer micro-nat LLR (priors folded in, OOV constant dl)
    "q156_nb_classifier" -> nbScoreAllSql,

    // q161 builds the model INCREMENTALLY (even docs as the
    // accumulated counts, odd docs folded in) — counts are additive,
    // so the oracle is exactly the batch-trained q156 SQL: passing
    // proves fold == from-scratch
    "q161_nb_incremental" -> nbScoreAllSql,

    // Mirrors TextAnalysis.nbClassifierEval: train on labeled md5
    // buckets 0-7, predict buckets 8-9, 2x2 confusion matrix
    "q157_nb_eval" ->
      s"""WITH ${nbCtes("b <= 7")},
         |dc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
         |    FROM lab WHERE b >= 8)
         |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
         |sc AS (SELECT d.doc_id, d.c,
         |    COALESCE(lm.lnp1, (SELECT oov1 FROM ct))
         |      - COALESCE(lm.lnp0, (SELECT oov0 FROM ct)) AS dl
         |  FROM dc d LEFT JOIN lm ON lm.token = d.tok),
         |ag AS (SELECT doc_id,
         |    CAST(SUM(c * dl) AS BIGINT) AS tok_llr FROM sc GROUP BY doc_id),
         |pr AS (SELECT doc_id,
         |    CASE WHEN tok_llr + (SELECT prior_diff FROM ct) > 0
         |      THEN 1 ELSE 0 END AS pred_pos FROM ag)
         |SELECT CAST(l.cls AS BIGINT) AS cls,
         |  CAST(p.pred_pos AS BIGINT) AS pred_pos,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pr p JOIN lab l ON l.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Mirrors TextAnalysis.crossEntropy: per-TYPE micro-nat ln floors,
    // integer sums, reserved OOV mass 1/(T+V+1)
    "q151_cross_entropy" ->
      s"""WITH base AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS b,
         |    $norm AS norm FROM documents),
         |vt AS (SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS tf FROM (
         |    SELECT unnest(string_split(norm, ' ')) AS tok
         |    FROM base WHERE b <= 7)
         |  WHERE length(tok) > 0 GROUP BY tok),
         |st AS (SELECT CAST(SUM(tf) AS BIGINT) AS T,
         |       CAST(COUNT(*) AS BIGINT) AS V FROM vt),
         |lm AS (SELECT token,
         |    CAST(floor(1000000.0 * ln((tf + 1) /
         |      CAST(T + V + 1 AS DOUBLE))) AS BIGINT) AS lnp
         |  FROM vt CROSS JOIN st),
         |ec AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
         |    FROM base WHERE b >= 8)
         |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
         |ov AS (SELECT CAST(floor(1000000.0 * ln(1.0 /
         |         CAST(T + V + 1 AS DOUBLE))) AS BIGINT) AS lnp FROM st),
         |sc AS (SELECT e.doc_id, e.c,
         |         COALESCE(lm.lnp, (SELECT lnp FROM ov)) AS lnp,
         |         CASE WHEN lm.token IS NULL THEN e.c ELSE 0 END AS oovc
         |       FROM ec e LEFT JOIN lm ON lm.token = e.tok)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
         |  CAST(SUM(oovc) AS BIGINT) AS n_oov,
         |  CAST((-SUM(c * lnp)) // SUM(c) AS BIGINT) AS ce_micro
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.oovReport: train-bucket vocabulary (md5
    // b<=7, tf>=1), eval tokens (b>=8) left-joined, exact-integer rate
    "q137_oov_report" ->
      s"""WITH base AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS b,
         |    $norm AS norm FROM documents),
         |vt AS (SELECT DISTINCT tok AS token FROM (
         |    SELECT unnest(string_split(norm, ' ')) AS tok
         |    FROM base WHERE b <= 7)
         |  WHERE length(tok) > 0),
         |et AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
         |    FROM base WHERE b >= 8)
         |  WHERE length(tok) > 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000
         |    // COUNT(*) AS BIGINT) AS oov_micro
         |FROM et LEFT JOIN vt v ON v.token = et.tok
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Gates SubstringDedup.dupWindowProfileRolling: the histogram is
    // hash-family-independent, so the md5 CTEs replay the FNV path
    "q135_rolling_span_profile" ->
      s"""WITH $tokenWindowsCte,
         |dw AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |       FROM wins GROUP BY fp HAVING COUNT(*) >= 2)
         |SELECT n_occ, n_docs, CAST(COUNT(*) AS BIGINT) AS n_windows
         |FROM dw GROUP BY n_occ, n_docs ORDER BY n_occ, n_docs""".stripMargin,

    // Mirrors Bpe.tokenizeCorpus under the q124 training: bs6's
    // per-word subword counts joined back to the corpus token stream
    "q134_bpe_tokenize" ->
      s"""WITH ${bpeCte(6)},
         |sw AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_sub
         |       FROM bs6 GROUP BY word),
         |dt AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents)
         |  WHERE length(tok) > 0)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords
         |FROM dt JOIN sw s ON s.word = dt.tok
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Mirrors Dedup.canonicalByRank: q51's recursive closure + q128's
    // integer PageRank, winner = per-component argmax by (pr, -doc_id)
    "q133_canonical_rank" -> {
      val prIters = (1 to 3).map { k =>
        val prev = if (k == 1) "pr0" else s"pr${k - 1}"
        s"""pr$k AS (SELECT e.dst AS id,
           |    CAST(150000 + (85 * SUM(p.pr // d.deg)) // 100 AS BIGINT) AS pr
           |  FROM edges e
           |  JOIN deg d ON d.src = e.src
           |  JOIN $prev p ON p.id = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $dupComponentsCtes,
         |edges AS (SELECT id1 AS src, id2 AS dst FROM dup
         |          UNION ALL SELECT id2 AS src, id1 AS dst FROM dup),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY src),
         |pr0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |$prIters,
         |mem AS (SELECT c.doc_id, c.component, cs.cluster_size,
         |          p.pr AS pr_micro
         |        FROM comp c JOIN cs USING (component)
         |        JOIN pr3 p ON p.id = c.doc_id),
         |win AS (SELECT component, doc_id AS keep_id FROM (
         |          SELECT component, doc_id,
         |            row_number() OVER (PARTITION BY component
         |              ORDER BY pr_micro DESC, doc_id ASC) AS rn
         |          FROM mem) WHERE rn = 1)
         |SELECT m.doc_id, m.component, CAST(m.cluster_size AS BIGINT)
         |    AS cluster_size, m.pr_micro,
         |  m.doc_id = w.keep_id AS canonical
         |FROM mem m JOIN win w USING (component)
         |ORDER BY doc_id""".stripMargin
    },

    // Mirrors TextAnalysis.invertedIndex: (token, doc_id) aggregate,
    // then md5 over the comma-joined ascending posting list
    "q130_inverted_index" ->
      s"""WITH td AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf_d
         |  FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS token
         |        FROM documents)
         |  WHERE length(token) > 0 GROUP BY token, doc_id)
         |SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
         |  CAST(SUM(tf_d) AS BIGINT) AS tf,
         |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
         |    AS postings_fp
         |FROM td GROUP BY token ORDER BY token""".stripMargin,

    // Mirrors TextAnalysis.searchAnd({data, query, table}): a doc
    // survives iff it appears in all three posting lists
    "q131_search_and" ->
      s"""WITH td AS (SELECT DISTINCT token, doc_id
         |  FROM (SELECT doc_id, unnest(string_split($norm, ' ')) AS token
         |        FROM documents)
         |  WHERE length(token) > 0)
         |SELECT doc_id FROM td
         |WHERE token IN ('data', 'query', 'table')
         |GROUP BY doc_id HAVING COUNT(*) = 3
         |ORDER BY doc_id""".stripMargin,

    // Mirrors Curation.scd2 ∘ snapshotSeries: the same three
    // md5-bucket snapshot perturbations, then gaps-and-islands over
    // per-key windows — interval starts at first appearance / fp
    // change / reappearance, ends at the next snapshot index
    "q126_scd2" ->
      s"""WITH base AS (SELECT doc_id, text,
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 10 AS b
         |  FROM documents),
         |snaps AS (
         |  SELECT doc_id, md5($norm) AS fp, CAST(0 AS BIGINT) AS snap
         |  FROM base WHERE b <> 7
         |  UNION ALL
         |  SELECT doc_id, md5($norm) AS fp, CAST(1 AS BIGINT) AS snap
         |  FROM (SELECT doc_id,
         |          CASE WHEN b = 3 THEN text || ' v2' ELSE text END AS text
         |        FROM base WHERE b <> 8 AND b <> 9)
         |  UNION ALL
         |  SELECT doc_id, md5($norm) AS fp, CAST(2 AS BIGINT) AS snap
         |  FROM (SELECT doc_id,
         |          CASE WHEN b = 3 THEN text || ' v2'
         |               WHEN b = 5 THEN text || ' v3'
         |               ELSE text END AS text
         |        FROM base WHERE b <> 8)),
         |lagd AS (SELECT doc_id, fp, snap,
         |    lag(fp) OVER (PARTITION BY doc_id ORDER BY snap) AS prev_fp,
         |    lag(snap) OVER (PARTITION BY doc_id ORDER BY snap) AS prev_snap
         |  FROM snaps),
         |isl AS (SELECT doc_id, fp, snap,
         |    SUM(CASE WHEN prev_snap IS NULL OR prev_fp <> fp
         |               OR prev_snap <> snap - 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY snap
         |            ROWS UNBOUNDED PRECEDING) AS island
         |  FROM lagd),
         |agg AS (SELECT doc_id, island, MIN(fp) AS fp,
         |          MIN(snap) AS valid_from, MAX(snap) AS last_snap
         |        FROM isl GROUP BY doc_id, island),
         |mx AS (SELECT MAX(snap) AS max_snap FROM snaps)
         |SELECT doc_id, fp, CAST(valid_from AS BIGINT) AS valid_from,
         |  CAST(CASE WHEN last_snap = max_snap THEN NULL
         |            ELSE last_snap + 1 END AS BIGINT) AS valid_to,
         |  last_snap = max_snap AS is_current
         |FROM agg CROSS JOIN mx
         |ORDER BY doc_id, valid_from""".stripMargin,

    // The JSONL round-trip must reproduce the documents table exactly
    "q121_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Mirrors Similarity.ivfPqTopK: q34's IVF cell CTEs gate the
    // candidates, q118's PQ LUT scores them
    "q122_ivfpq_ann" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2)},
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)},
         |cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |         FROM probes q JOIN assign c ON q.cell = c.cell
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |plut AS (SELECT s.vec_id AS qid, s.sub, c.c_id AS code,
         |           CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS d
         |         FROM sflat s JOIN p2 c ON c.sub = s.sub AND c.j = s.j
         |         WHERE s.vec_id < 10
         |         GROUP BY s.vec_id, s.sub, c.c_id),
         |padc AS (SELECT cand.qid, cand.cid,
         |           CAST(SUM(l.d) AS BIGINT) AS adist
         |         FROM cand
         |         JOIN penc e ON e.vec_id = cand.cid
         |         JOIN plut l ON l.qid = cand.qid
         |           AND l.sub = e.sub AND l.code = e.code
         |         GROUP BY cand.qid, cand.cid)
         |SELECT qid, cid, adist, rn FROM (
         |  SELECT qid, cid, adist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adist, cid) AS BIGINT) AS rn
         |  FROM padc)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    "q52_length_quantiles" ->
      s"""WITH runs AS (SELECT source, CAST($nTokens AS BIGINT) AS n_tok, COUNT(*) AS c
         |              FROM (SELECT source, $norm AS norm FROM documents)
         |              GROUP BY source, n_tok),
         |w AS (SELECT source, n_tok, c,
         |        SUM(c) OVER (PARTITION BY source ORDER BY n_tok
         |          ROWS UNBOUNDED PRECEDING) AS cum,
         |        SUM(c) OVER (PARTITION BY source) AS n_docs
         |      FROM runs),
         |p AS (SELECT w.*, unnest([25,50,75,90]) AS pct FROM w),
         |r AS (SELECT *, (pct * n_docs + 99) // 100 AS rk FROM p)
         |SELECT source, CAST(pct AS BIGINT) AS pct, n_tok AS value,
         |  CAST(n_docs AS BIGINT) AS n_docs
         |FROM r WHERE rk > cum - c AND rk <= cum ORDER BY source, pct""".stripMargin,

    "q53_asof_click" ->
      """WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id
        |                FROM events WHERE event_type = 'click'
        |                GROUP BY user_id, ts),
        |purch AS (SELECT event_id, user_id, ts FROM events
        |          WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, c.click_id, c.ts AS click_ts
        |FROM purch p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts > c.ts
        |ORDER BY p.event_id""".stripMargin,

    "q54_window_rollup" ->
      """WITH win AS (SELECT i AS window_id,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 11 HOUR AS ws,
        |    TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 11 HOUR
        |      + INTERVAL 6 HOUR AS we
        |  FROM (SELECT unnest(generate_series(0, 63)) AS i))
        |SELECT w.window_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN win w ON e.ts >= w.ws AND e.ts < w.we
        |GROUP BY w.window_id ORDER BY w.window_id""".stripMargin,

    "q55_chunks" ->
      s"""SELECT doc_id,
         |  CAST((off - 1) // 192 AS BIGINT) AS chunk_idx,
         |  CAST(off AS BIGINT) AS off,
         |  CAST(length(substr(norm, CAST(off AS BIGINT), 256)) AS BIGINT) AS chunk_len,
         |  md5(substr(norm, CAST(off AS BIGINT), 256)) AS chunk_fp
         |FROM (SELECT doc_id, norm,
         |        unnest(generate_series(1, greatest(length(norm), 1), 192)) AS off
         |      FROM (SELECT doc_id, $norm AS norm FROM documents))
         |ORDER BY doc_id, off""".stripMargin,

    "q56_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |pdt AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
         |dfq AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
         |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (SELECT doc_id, tok AS token, tf, df,
         |    CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
         |  FROM pdt JOIN dfq USING (tok) CROSS JOIN nd),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |        ORDER BY score DESC, token) AS BIGINT) AS rn FROM scored)
         |SELECT doc_id, token, tf, df, score, rn FROM r WHERE rn <= 5
         |ORDER BY doc_id, rn""".stripMargin,

    "q59_chunk_dups" ->
      s"""WITH ch AS (
         |  SELECT doc_id, CAST(off AS BIGINT) AS off,
         |    md5(substr(norm, CAST(off AS BIGINT), 256)) AS chunk_fp
         |  FROM (SELECT doc_id, norm,
         |          unnest(generate_series(1, greatest(length(norm), 1), 192)) AS off
         |        FROM (SELECT doc_id, $norm AS norm FROM documents))),
         |r AS (SELECT chunk_fp, doc_id, off,
         |        row_number() OVER (PARTITION BY chunk_fp ORDER BY doc_id, off) AS rn,
         |        COUNT(*) OVER (PARTITION BY chunk_fp) AS n_copies
         |      FROM ch)
         |SELECT chunk_fp, doc_id AS keep_doc, off AS keep_off,
         |  CAST(n_copies AS BIGINT) AS n_copies
         |FROM r WHERE rn = 1 AND n_copies >= 2 ORDER BY chunk_fp""".stripMargin,

    "q67_histogram" ->
      """SELECT event_type,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) // 200 AS bin,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,

    "q68_pivot" ->
      """SELECT CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY hod ORDER BY hod""".stripMargin,

    "q69_rollup" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(GROUPING(source, lang) AS BIGINT) AS gid
        |FROM documents GROUP BY ROLLUP(source, lang)
        |ORDER BY gid, source, lang""".stripMargin,

    "q70_cube" ->
      """SELECT event_type, day, COUNT(*) AS n,
        |  CAST(GROUPING(event_type, day) AS BIGINT) AS gid
        |FROM (SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
        |      FROM events)
        |GROUP BY CUBE(event_type, day)
        |ORDER BY gid, event_type, day""".stripMargin,

    "q65_transitions" ->
      """SELECT from_type, to_type, COUNT(*) AS n FROM (
        |  SELECT event_type AS from_type,
        |    COALESCE(lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'END') AS to_type
        |  FROM events)
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,

    "q66_funnel" ->
      """WITH w AS (SELECT *, lag(ts) OVER (PARTITION BY user_id
        |             ORDER BY ts, event_id) AS prev_ts FROM events),
        |n AS (SELECT *, CASE WHEN prev_ts IS NULL
        |        OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |        THEN 1 ELSE 0 END AS is_new FROM w),
        |s AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
        |      FROM n),
        |f1 AS (SELECT *, MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |         OVER sw AS seen_view FROM s
        |       WINDOW sw AS (PARTITION BY user_id, session_id
        |         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |f2 AS (SELECT *, CASE WHEN event_type = 'click' AND seen_view = 1
        |         THEN 1 ELSE 0 END AS is_cav FROM f1),
        |f3 AS (SELECT *, MAX(is_cav) OVER sw AS seen_cav FROM f2
        |       WINDOW sw AS (PARTITION BY user_id, session_id
        |         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)),
        |f4 AS (SELECT *, CASE WHEN event_type = 'purchase' AND seen_cav = 1
        |         THEN 1 ELSE 0 END AS is_pacav FROM f3),
        |g AS (SELECT user_id, session_id, MAX(seen_view) AS hv,
        |        MAX(is_cav) AS hc, MAX(is_pacav) AS hp
        |      FROM f4 GROUP BY user_id, session_id)
        |SELECT COUNT(*) AS n_sessions,
        |  CAST(SUM(hv) AS BIGINT) AS n_view,
        |  CAST(SUM(hc) AS BIGINT) AS n_view_click,
        |  CAST(SUM(hp) AS BIGINT) AS n_view_click_purchase
        |FROM g""".stripMargin,

    "q63_retention" ->
      """WITH activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |                  FROM events),
        |cohorts AS (SELECT user_id, MIN(day) AS cohort FROM activity
        |            GROUP BY user_id)
        |SELECT cohort, CAST(day - cohort AS BIGINT) AS day_offset,
        |  COUNT(*) AS n_active
        |FROM activity JOIN cohorts USING (user_id)
        |GROUP BY cohort, day_offset ORDER BY cohort, day_offset""".stripMargin,

    "q64_bigram_lm" ->
      s"""WITH docs AS (SELECT doc_id, string_split($norm, ' ') AS toks
         |              FROM documents),
         |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram FROM (
         |        SELECT doc_id, toks,
         |          unnest(generate_series(1, len(toks) - 1)) AS i
         |        FROM docs WHERE len(toks) >= 2)),
         |vocab AS (SELECT bigram, COUNT(*) AS tf FROM bg GROUP BY bigram),
         |tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM vocab),
         |pdb AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg
         |        GROUP BY doc_id, bigram)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         |  CAST(SUM(c * tf) AS DOUBLE) /
         |    CAST(SUM(c) * ANY_VALUE(total) AS DOUBLE) AS lm2_score
         |FROM pdb JOIN vocab USING (bigram) CROSS JOIN tot
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q62_bm25" ->
      s"""WITH toks AS (SELECT doc_id, tok FROM (
         |    SELECT doc_id, unnest(string_split($norm, ' ')) AS tok
         |    FROM documents) WHERE length(tok) > 0),
         |terms(token) AS (SELECT * FROM (VALUES ('data'), ('query'), ('table'))),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |          CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
         |dfq AS (SELECT tok AS token, COUNT(DISTINCT doc_id) AS df
         |        FROM toks JOIN terms ON tok = token GROUP BY tok),
         |pd AS (SELECT doc_id, tok AS token, COUNT(*) AS tf
         |       FROM toks JOIN terms ON tok = token GROUP BY doc_id, tok),
         |sc AS (SELECT pd.doc_id, pd.token,
         |    (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) *
         |    (CAST(tf AS DOUBLE) * (1.2 + 1.0) /
         |     (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl.dl AS DOUBLE) /
         |       (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS term_score
         |  FROM pd JOIN dfq USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
         |w AS (SELECT doc_id,
         |    SUM(CASE WHEN token = 'data' THEN term_score END) AS s0,
         |    SUM(CASE WHEN token = 'query' THEN term_score END) AS s1,
         |    SUM(CASE WHEN token = 'table' THEN term_score END) AS s2
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id,
         |  COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0) AS score
         |FROM w ORDER BY score DESC, doc_id LIMIT 50""".stripMargin,

    "q61_recent_clicks" ->
      """SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS click_id,
        |  (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = p.user_id
        | AND c.ts < p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTE
        |ORDER BY purchase_id, click_id""".stripMargin,

    "q60_value_outliers" ->
      """WITH stats0 AS (SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
        |      AS DOUBLE) AS sq
        |  FROM events GROUP BY event_type HAVING COUNT(*) > 1),
        |stats AS (SELECT event_type, s / n AS mean,
        |    (sq - s * s / n) / (n - 1) AS variance
        |  FROM stats0 WHERE (sq - s * s / n) / (n - 1) > 0),
        |z AS (SELECT e.event_type, e.event_id, e.value,
        |    (e.value - mean) / sqrt(variance) AS z
        |  FROM events e JOIN stats USING (event_type)),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY event_type
        |        ORDER BY abs(z) DESC, event_id) AS BIGINT) AS rn FROM z)
        |SELECT event_type, event_id, value, z, rn FROM r WHERE rn <= 20
        |ORDER BY event_type, rn""".stripMargin,

    "q57_pii_redact" ->
      s"""WITH planted AS (SELECT doc_id,
         |    $norm ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' ||
         |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |    CASE WHEN doc_id % 5 = 0 THEN ' see https://example.org/d/' ||
         |      CAST(doc_id AS VARCHAR) ELSE '' END AS txt
         |  FROM documents),
         |red AS (SELECT doc_id, txt,
         |    regexp_replace(regexp_replace(txt,
         |      '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+', '<EMAIL>', 'g'),
         |      'https?://[a-z0-9./_-]+', '<URL>', 'g') AS clean
         |  FROM planted)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(txt,
         |    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(txt,
         |    'https?://[a-z0-9./_-]+')) AS BIGINT) AS n_urls,
         |  CAST(length(clean) AS BIGINT) AS clean_len,
         |  md5(clean) AS clean_fp
         |FROM red ORDER BY doc_id""".stripMargin,

    "q36_props_extract" ->
      raw"""SELECT event_type, COUNT(*) AS n,
           |  CAST(SUM(k) AS BIGINT) AS sum_k,
           |  CAST(SUM(k) AS DOUBLE) / COUNT(*) AS avg_k
           |FROM (SELECT event_type,
           |        TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
           |      FROM events)
           |WHERE k IS NOT NULL
           |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Mirrors Curation.compositeGate: the q156 scorer (nbCtes +
    // shared body), q77's gopher verdict, q79's entropy — joined on
    // doc_id over the NB-scorable universe, with the per-source
    // adaptive rank cut (q88's integer rule) on llr_micro
    "q164_composite_gate" ->
      s"""WITH ${nbCtes("TRUE")},
         |$nbScoreBodyCtes,
         |nbsc AS (SELECT doc_id,
         |    CAST(tok_llr + (SELECT prior_diff FROM ct) AS BIGINT)
         |      AS llr_micro FROM ag),
         |gt AS (SELECT doc_id,
         |    list_filter(string_split($norm, ' '), x -> length(x) > 0)
         |      AS toks
         |  FROM documents),
         |gs AS (SELECT doc_id, len(toks) AS n_words,
         |    COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
         |      AS total_len,
         |    len(list_distinct(toks)) AS n_uniq,
         |    len(list_filter(toks, x -> x IN ('the','a','an','of','to','in',
         |      'and','is','be','that'))) AS stop_count
         |  FROM gt),
         |gr AS (SELECT doc_id,
         |    (n_words >= 50 AND n_words <= 100000
         |      AND (CASE WHEN n_words = 0 THEN 0
         |        ELSE round(1e6 * total_len / n_words) END) >= 3000000
         |      AND (CASE WHEN n_words = 0 THEN 0
         |        ELSE round(1e6 * total_len / n_words) END) <= 10000000
         |      AND (CASE WHEN n_words = 0 THEN 0
         |        ELSE round(1e6 * n_uniq / n_words) END) >= 300000
         |      AND stop_count >= 2) AS ok_gopher
         |  FROM gs),
         |en AS (SELECT doc_id, $norm AS t FROM documents),
         |ec AS (SELECT doc_id, unnest(string_split(t, '')) AS ch FROM en
         |       WHERE length(t) > 0),
         |eh AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM ec
         |       GROUP BY doc_id, ch),
         |etot AS (SELECT doc_id, length(t) AS nn FROM en),
         |ee AS (SELECT eh.doc_id,
         |    SUM(CAST(round(1e3 * cnt * log2(nn * 1.0 / cnt) / nn) AS BIGINT))
         |      AS entropy_milli
         |  FROM eh JOIN etot ON eh.doc_id = etot.doc_id GROUP BY eh.doc_id),
         |ent AS (SELECT en.doc_id,
         |    CAST(COALESCE(ee.entropy_milli, 0) AS BIGINT) AS entropy_milli
         |  FROM en LEFT JOIN ee ON en.doc_id = ee.doc_id),
         |ranked AS (SELECT n.doc_id, d.source, n.llr_micro,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY n.llr_micro DESC, n.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY d.source) AS cnt
         |  FROM nbsc n JOIN documents d ON d.doc_id = n.doc_id)
         |SELECT r.doc_id, r.source, r.llr_micro, ent.entropy_milli,
         |  (r.rn * 1000 <= 900 * r.cnt) AS ok_nb,
         |  gr.ok_gopher AS ok_gopher,
         |  (ent.entropy_milli >= 3900 AND ent.entropy_milli <= 4500)
         |    AS ok_entropy,
         |  ((r.rn * 1000 <= 900 * r.cnt) AND gr.ok_gopher
         |    AND ent.entropy_milli >= 3900 AND ent.entropy_milli <= 4500)
         |    AS keep
         |FROM ranked r JOIN gr ON gr.doc_id = r.doc_id
         |JOIN ent ON ent.doc_id = r.doc_id
         |ORDER BY r.doc_id""".stripMargin,

    // q26's capped LSH pipeline over a corpus inflated with 300
    // template copies, its cap blind spot reproduced verbatim
    // (okb <= 256), then the per-(band,bhash) star pairs — each
    // over-cap member vs the bucket's min doc_id, scored by
    // signature agreement — unioned back in (UNION dedups, matching
    // the Spark .distinct())
    "q185_hot_bucket_rescue" ->
      s"""WITH tmpl AS (SELECT min(doc_id) AS tid FROM documents
         |             WHERE length(text) > 200),
         |docsx AS (SELECT doc_id, text FROM documents
         |          UNION ALL
         |          SELECT 10000000 + gs AS doc_id, d.text
         |          FROM documents d, tmpl, generate_series(0, 299) AS g(gs)
         |          WHERE d.doc_id = tmpl.tid),
         |docs AS (SELECT doc_id, $norm AS norm FROM docsx),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
         |       FROM docs)),
         |$hashedShinglesCte,
         |sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS MATERIALIZED ($bandsSql),
         |okb AS (SELECT band, bhash FROM bands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
         |       FROM bands JOIN okb USING (band, bhash)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bb a JOIN bb b
         |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT c.id1, c.id2, COUNT(*) AS common
         |           FROM cands c
         |           JOIN sh a ON a.doc_id = c.id1
         |           JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
         |           GROUP BY c.id1, c.id2),
         |dup AS (SELECT id1, id2 FROM (
         |          SELECT id1, id2,
         |            CAST(common AS DOUBLE) / CAST(s1.sz + s2.sz - common AS DOUBLE) AS jaccard
         |          FROM common
         |          JOIN sizes s1 ON s1.doc_id = id1
         |          JOIN sizes s2 ON s2.doc_id = id2)
         |        WHERE jaccard >= 0.7),
         |hot AS (SELECT band, bhash, MIN(doc_id) AS hid
         |        FROM bands GROUP BY band, bhash HAVING COUNT(*) > 256),
         |starc AS (SELECT DISTINCT h.hid AS id1, b.doc_id AS id2
         |          FROM bands b JOIN hot h
         |          ON b.band = h.band AND b.bhash = h.bhash
         |          WHERE b.doc_id <> h.hid),
         |agree AS (SELECT c.id1, c.id2, $sigAgreeSql AS n_agree
         |          FROM starc c
         |          JOIN sig a ON a.doc_id = c.id1
         |          JOIN sig b ON b.doc_id = c.id2),
         |star AS (SELECT id1, id2 FROM agree
         |         WHERE n_agree >= 8 AND CAST(n_agree AS DOUBLE) / 16 >= 0.7)
         |SELECT id1, id2 FROM dup UNION SELECT id1, id2 FROM star
         |ORDER BY id1, id2""".stripMargin,

    // the gate replayed for the sampled queries (store-trained
    // ivfCte, q193's machinery) plus the brute-force truth leg —
    // flagged = any probed-cell cosine >= 0.35
    "q194_gate_recall" ->
      s"""WITH $flatCte,
         |sfl AS (SELECT * FROM flat WHERE vec_id % 2 = 0),
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2,
            trainSrc = "sfl")},
         |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |          FROM probes q JOIN assign c ON q.cell = c.cell
         |          WHERE q.vec_id % 2 = 1 AND q.vec_id < 50
         |            AND c.vec_id % 2 = 0),
         |gdots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |          FROM pairs p
         |          JOIN flat fq ON fq.vec_id = p.qid
         |          JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |          GROUP BY p.qid, p.cid),
         |gate AS (SELECT DISTINCT qid AS vec_id
         |         FROM gdots
         |         JOIN norms nq ON nq.vec_id = qid
         |         JOIN norms nc ON nc.vec_id = cid
         |         WHERE CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) >= 0.35),
         |bdots AS (SELECT q.vec_id, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |          FROM flat q JOIN flat c ON q.i = c.i
         |          WHERE q.vec_id % 2 = 1 AND q.vec_id < 50
         |            AND c.vec_id % 2 = 0
         |          GROUP BY q.vec_id, c.vec_id),
         |best AS (SELECT bdots.vec_id AS vec_id,
         |           MAX(CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm)) AS best_cos
         |         FROM bdots
         |         JOIN norms nq ON nq.vec_id = bdots.vec_id
         |         JOIN norms nc ON nc.vec_id = bdots.cid
         |         GROUP BY bdots.vec_id)
         |SELECT b.vec_id, b.best_cos,
         |  CAST(CASE WHEN b.best_cos >= 0.35 THEN 1 ELSE 0 END AS BIGINT)
         |    AS truth_flag,
         |  CAST(CASE WHEN g.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
         |    AS gate_flag
         |FROM best b LEFT JOIN gate g ON g.vec_id = b.vec_id
         |ORDER BY b.vec_id""".stripMargin,

    // centroids trained on the STORE slice only (sfl — the md5-first-16
    // seed rule evaluated on the slice, mirroring
    // trainCentroids(quantized(store))); `assign` then covers every
    // vector under those centroids, so store rows are the cell table
    // and odd rows' top-nprobe `probes` are the batch probe — exact
    // cosine on the cell-pruned store, best witness per batch vector
    "q193_ann_ingest_gate" ->
      s"""WITH $flatCte,
         |sfl AS (SELECT * FROM flat WHERE vec_id % 2 = 0),
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2,
            trainSrc = "sfl")},
         |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid, c.cell
         |          FROM probes q JOIN assign c ON q.cell = c.cell
         |          WHERE q.vec_id % 2 = 1 AND c.vec_id % 2 = 0),
         |dots AS (SELECT p.qid, p.cid, p.cell, SUM(fq.v * fc.v) AS dot
         |         FROM pairs p
         |         JOIN flat fq ON fq.vec_id = p.qid
         |         JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |         GROUP BY p.qid, p.cid, p.cell),
         |cos AS (SELECT qid, cid, cell,
         |          CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid
         |        WHERE CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) >= 0.35),
         |r AS (SELECT qid, cid, cell, cos,
         |        row_number() OVER (PARTITION BY qid
         |          ORDER BY cos DESC, cid) AS rn
         |      FROM cos)
         |SELECT qid AS vec_id, cid AS nn_id, cell, cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the store-side capped probe + index-vs-batch star: sides ride a
    // `side` tag through one shared sig derivation (disjoint id
    // ranges), the cap and the hot-bucket min are computed on the
    // STORE side exactly as incrementalNearDups/hotBucketProbe do
    "q192_store_star_probe" ->
      s"""WITH tmpl AS (SELECT min(doc_id) AS tid FROM documents
         |             WHERE length(text) > 200 AND doc_id % 2 = 0),
         |docsx AS (SELECT doc_id, text, 's' AS side FROM documents
         |          WHERE doc_id % 2 = 0
         |          UNION ALL
         |          SELECT 10000000 + gs AS doc_id, d.text, 's'
         |          FROM documents d, tmpl, generate_series(0, 299) AS g(gs)
         |          WHERE d.doc_id = tmpl.tid
         |          UNION ALL
         |          SELECT doc_id, text, 'b' FROM documents
         |          WHERE doc_id % 2 = 1
         |          UNION ALL
         |          SELECT 20000000 AS doc_id, d.text, 'b'
         |          FROM documents d, tmpl WHERE d.doc_id = tmpl.tid),
         |docs AS (SELECT doc_id, $norm AS norm FROM docsx),
         |sides AS (SELECT DISTINCT doc_id, side FROM docsx),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
         |       FROM docs)),
         |$hashedShinglesCte,
         |sig AS MATERIALIZED (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS MATERIALIZED ($bandsSql),
         |sbands AS (SELECT bands.* FROM bands JOIN sides USING (doc_id)
         |           WHERE side = 's'),
         |bbands AS (SELECT bands.* FROM bands JOIN sides USING (doc_id)
         |           WHERE side = 'b'),
         |okb AS (SELECT band, bhash FROM sbands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |cands AS (SELECT DISTINCT s.doc_id AS id1, bb.doc_id AS id2
         |          FROM sbands s JOIN okb USING (band, bhash)
         |          JOIN bbands bb
         |          ON bb.band = s.band AND bb.bhash = s.bhash),
         |capped AS (SELECT id1, id2 FROM (
         |             SELECT c.id1, c.id2, $sigAgreeSql AS n_agree
         |             FROM cands c
         |             JOIN sig a ON a.doc_id = c.id1
         |             JOIN sig b ON b.doc_id = c.id2)
         |           WHERE n_agree >= 8 AND CAST(n_agree AS DOUBLE) / 16 >= 0.7),
         |hot AS (SELECT band, bhash, MIN(doc_id) AS hid
         |        FROM sbands GROUP BY band, bhash HAVING COUNT(*) > 256),
         |starc AS (SELECT DISTINCT h.hid AS id1, bb.doc_id AS id2
         |          FROM bbands bb JOIN hot h
         |          ON bb.band = h.band AND bb.bhash = h.bhash
         |          WHERE bb.doc_id <> h.hid),
         |star AS (SELECT id1, id2 FROM (
         |           SELECT c.id1, c.id2, $sigAgreeSql AS n_agree
         |           FROM starc c
         |           JOIN sig a ON a.doc_id = c.id1
         |           JOIN sig b ON b.doc_id = c.id2)
         |         WHERE n_agree >= 8 AND CAST(n_agree AS DOUBLE) / 16 >= 0.7)
         |SELECT id1, id2 FROM capped UNION SELECT id1, id2 FROM star
         |ORDER BY id1, id2""".stripMargin,

    // the folded bucket store == bucket stats from scratch over the
    // WHOLE corpus: per (band, bhash), member count + smallest doc_id
    "q195_bucket_fold" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql)
         |SELECT CAST(band AS BIGINT) AS band, bhash,
         |  CAST(COUNT(*) AS BIGINT) AS bsz, MIN(doc_id) AS id1
         |FROM bands GROUP BY band, bhash
         |ORDER BY band, bhash""".stripMargin,

    // the retracted bucket store == bucket stats from scratch over
    // the surviving evens (counts subtracted, zero buckets dropped,
    // lost minima repaired — all invisible to the from-scratch form,
    // which is the point of the gate)
    "q196_bucket_retract" ->
      s"""WITH docs AS (SELECT doc_id, $norm AS norm FROM documents
         |              WHERE doc_id % 2 = 0),
         |sh AS MATERIALIZED (SELECT DISTINCT doc_id, substr(norm, i, 5) AS shingle FROM (
         |       SELECT doc_id, norm,
         |         unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
         |       FROM docs)),
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql)
         |SELECT CAST(band AS BIGINT) AS band, bhash,
         |  CAST(COUNT(*) AS BIGINT) AS bsz, MIN(doc_id) AS id1
         |FROM bands GROUP BY band, bhash
         |ORDER BY band, bhash""".stripMargin,

    // per-doc bigram-LM negative log-likelihood under the src0-2
    // reference model — the whole pipeline (train + serve) in one
    // statement, integer micro-nats end to end
    "q198_lm_score" ->
      s"""WITH ${lmCtes(lmRefFilter)}
         |SELECT doc_id, n_big, nll_micro, avg_nll_micro FROM lmsc
         |ORDER BY doc_id""".stripMargin,

    // the folded bigram-count state == counts from scratch over the
    // grown reference (additivity is the proof, the q161/q92 pattern)
    "q199_lm_fold" ->
      s"""WITH ${lmCtes(lmRefFilter)}
         |SELECT w1, w2, c12 FROM bi ORDER BY w1, w2""".stripMargin,

    // the retracted bigram-count state == re-training on the
    // surviving even reference docs
    "q200_lm_retract" ->
      s"""WITH ${lmCtes(lmRefFilter + " AND d.doc_id % 2 = 0")}
         |SELECT w1, w2, c12 FROM bi ORDER BY w1, w2""".stripMargin,

    // per-source perplexity rank gate: keep iff rn·1000 ≤ 900·n under
    // (avg_nll asc, doc_id asc) — q164's integer rule on the LM signal
    "q202_lm_gate" ->
      s"""WITH ${lmCtes(lmRefFilter)},
         |sc AS (SELECT lmsc.doc_id, d.source, lmsc.avg_nll_micro
         |       FROM lmsc JOIN documents d ON d.doc_id = lmsc.doc_id),
         |r AS (SELECT doc_id, source, avg_nll_micro,
         |        CAST(row_number() OVER (PARTITION BY source
         |          ORDER BY avg_nll_micro, doc_id) AS BIGINT) AS rn,
         |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |      FROM sc)
         |SELECT doc_id, source, avg_nll_micro,
         |  (rn * 1000 <= 900 * n) AS keep
         |FROM r ORDER BY doc_id""".stripMargin,

    // the 100 most-perplexed docs with source/length — rank over the
    // per-doc scores, doc_id tiebreak
    "q201_lm_outliers" ->
      s"""WITH ${lmCtes(lmRefFilter)},
         |r AS (SELECT lmsc.doc_id, d.source, d.n_chars, lmsc.n_big,
         |        lmsc.avg_nll_micro,
         |        CAST(row_number() OVER (ORDER BY lmsc.avg_nll_micro DESC,
         |          lmsc.doc_id) AS BIGINT) AS rank
         |      FROM lmsc JOIN documents d ON d.doc_id = lmsc.doc_id)
         |SELECT rank, doc_id, source, n_chars, n_big, avg_nll_micro
         |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    // the digest sub-manifest over the surviving evens, from scratch —
    // the signed +full/−odd fold must land exactly here (integer
    // arithmetic mod 2^61−1, HUGEINT sums so nothing overflows)
    "q191_signed_digest" ->
      s"""WITH mdocs AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |sp AS (SELECT doc_id,
         |    CASE WHEN b < 80 THEN 'train'
         |         WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |      CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 AS b FROM mdocs)),
         |d AS (SELECT s.split, dd.doc_id,
         |    CAST(concat('0x', substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 4 AS sub,
         |    COALESCE(md5($norm), 'null') AS fp,
         |    COALESCE(CASE WHEN length($norm) = 0 THEN 0
         |         ELSE len(string_split($norm, ' ')) END, 0) AS n_tok
         |  FROM mdocs dd JOIN sp s ON s.doc_id = dd.doc_id)
         |SELECT split, sub, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tok,
         |  CAST(SUM(CAST($unitDigSql AS HUGEINT))
         |    % 2305843009213693951 AS BIGINT) AS sub_dig61
         |FROM d GROUP BY split, sub ORDER BY split, sub""".stripMargin,

    // q34's pipeline with the CORPUS side and the query set restricted
    // to the surviving (even) vectors while the ivfCte still trains on
    // the FULL flat table — the serve-under-v1-model takedown semantics
    "q188_ivf_retract" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2)},
         |pairs AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |          FROM probes q JOIN assign c ON q.cell = c.cell
         |          WHERE q.vec_id < 10 AND q.vec_id % 2 = 0
         |            AND c.vec_id % 2 = 0 AND q.vec_id <> c.vec_id),
         |dots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |         FROM pairs p
         |         JOIN flat fq ON fq.vec_id = p.qid
         |         JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |         GROUP BY p.qid, p.cid),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |r AS (SELECT qid, cid, cos,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |      FROM cos)
         |SELECT qid, cid, cos, rn FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // q118's pipeline with the code table and the query set restricted
    // to the surviving (even) vectors, codebook trained on the full
    // corpus — the PQ takedown's serve semantics
    "q189_pq_retract" ->
      s"""WITH $flatCte,
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)},
         |plut AS (SELECT s.vec_id AS qid, s.sub, c.c_id AS code,
         |           CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS d
         |         FROM sflat s JOIN p2 c ON c.sub = s.sub AND c.j = s.j
         |         WHERE s.vec_id < 10 AND s.vec_id % 2 = 0
         |         GROUP BY s.vec_id, s.sub, c.c_id),
         |padc AS (SELECT l.qid, e.vec_id AS cid,
         |           CAST(SUM(l.d) AS BIGINT) AS adist
         |         FROM penc e JOIN plut l
         |           ON l.sub = e.sub AND l.code = e.code
         |         WHERE l.qid <> e.vec_id AND e.vec_id % 2 = 0
         |         GROUP BY l.qid, e.vec_id)
         |SELECT qid, cid, adist, rn FROM (
         |  SELECT qid, cid, adist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adist, cid) AS BIGINT) AS rn
         |  FROM padc)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.sqDigest: per-dim extrema over the shared
    // flatCte quantization, floor-coded cells, midpoint
    // reconstruction — all products < 2^53 so the double floors are
    // bit-stable in both engines
    "q204_sq_encode" ->
      s"""WITH $flatCte,
         |$sqCtes
         |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
         |  CAST(MIN(code) AS BIGINT) AS code_min,
         |  CAST(MAX(code) AS BIGINT) AS code_max,
         |  CAST(SUM((v - r) * (v - r)) AS BIGINT) AS rerr
         |FROM srecon GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // Mirrors Similarity.sqTopK: exact query elements vs the corpus
    // reconstruction, integer squared-L2, (adist, cid) rank
    "q205_sq_ann" ->
      s"""WITH $flatCte,
         |$sqCtes,
         |sadc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM((q.v - c.r) * (q.v - c.r)) AS BIGINT) AS adist
         |         FROM f64 q JOIN srecon c ON q.i = c.i
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |         GROUP BY q.vec_id, c.vec_id),
         |r AS (SELECT qid, cid, adist,
         |        CAST(row_number() OVER (PARTITION BY qid
         |          ORDER BY adist, cid) AS BIGINT) AS rn
         |      FROM sadc)
         |SELECT qid, cid, adist, rn FROM r WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.sqRefineTopK: the q205 ranking over-fetched
    // to top-20, then q30's exact-cosine arithmetic reranks the
    // candidate sliver to top-5
    "q206_sq_refine" ->
      s"""WITH $flatCte,
         |$sqCtes,
         |sadc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM((q.v - c.r) * (q.v - c.r)) AS BIGINT) AS adist
         |         FROM f64 q JOIN srecon c ON q.i = c.i
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |         GROUP BY q.vec_id, c.vec_id),
         |cand AS (SELECT qid, cid FROM (
         |           SELECT qid, cid,
         |             row_number() OVER (PARTITION BY qid
         |               ORDER BY adist, cid) AS rn
         |           FROM sadc) WHERE rn <= 20),
         |dots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |         FROM cand p
         |         JOIN flat fq ON fq.vec_id = p.qid
         |         JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |         GROUP BY p.qid, p.cid),
         |cos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |        FROM dots
         |        JOIN norms nq ON nq.vec_id = qid
         |        JOIN norms nc ON nc.vec_id = cid),
         |rr AS (SELECT qid, cid, cos,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |       FROM cos)
         |SELECT qid, cid, cos, rn FROM rr WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    // Mirrors Dedup.editDistanceDupPairs: the q26 candidate front,
    // then plain levenshtein over the same 500-char normalized
    // prefixes (DuckDB has no banded variant; Spark's threshold=100
    // is exactly the largest passable distance, so the -1-pruned and
    // unpruned verdicts agree row for row)
    "q209_edit_dups" ->
      s"""WITH $shinglesCte,
         |$hashedShinglesCte,
         |sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id),
         |bands AS ($bandsSql),
         |okb AS (SELECT band, bhash FROM bands
         |        GROUP BY band, bhash HAVING COUNT(*) <= 256),
         |bb AS (SELECT bands.doc_id, bands.band, bands.bhash
         |       FROM bands JOIN okb USING (band, bhash)),
         |cands AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |          FROM bb a JOIN bb b
         |          ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
         |pref AS (SELECT doc_id, substr($norm, 1, 500) AS p FROM documents),
         |ed AS (SELECT c.id1, c.id2,
         |         CAST(levenshtein(a.p, b.p) AS BIGINT) AS edist,
         |         CAST(greatest(length(a.p), length(b.p)) AS BIGINT) AS mlen
         |       FROM cands c
         |       JOIN pref a ON a.doc_id = c.id1
         |       JOIN pref b ON b.doc_id = c.id2)
         |SELECT id1, id2, edist FROM ed
         |WHERE edist * 1000 <= 200 * mlen ORDER BY id1, id2""".stripMargin,

    // q205's pipeline with the code table and the query set
    // restricted to the surviving (even) vectors, extrema trained on
    // the full corpus — the SQ takedown's serve semantics
    "q210_sq_retract" ->
      s"""WITH $flatCte,
         |$sqCtes,
         |sadc AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         |           CAST(SUM((q.v - c.r) * (q.v - c.r)) AS BIGINT) AS adist
         |         FROM f64 q JOIN srecon c ON q.i = c.i
         |         WHERE q.vec_id < 10 AND q.vec_id % 2 = 0
         |           AND c.vec_id % 2 = 0 AND q.vec_id <> c.vec_id
         |         GROUP BY q.vec_id, c.vec_id),
         |r AS (SELECT qid, cid, adist,
         |        CAST(row_number() OVER (PARTITION BY qid
         |          ORDER BY adist, cid) AS BIGINT) AS rn
         |      FROM sadc)
         |SELECT qid, cid, adist, rn FROM r WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.ivfSqTopK: the q34 ivfCte candidate pruning
    // composed with the q205 SQ reconstruction scoring
    "q212_ivfsq_ann" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2)},
         |$sqCtes,
         |cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |         FROM probes q JOIN assign c ON q.cell = c.cell
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |sadc AS (SELECT cand.qid, cand.cid,
         |           CAST(SUM((f.v - s.r) * (f.v - s.r)) AS BIGINT) AS adist
         |         FROM cand
         |         JOIN f64 f ON f.vec_id = cand.qid
         |         JOIN srecon s ON s.vec_id = cand.cid AND s.i = f.i
         |         GROUP BY cand.qid, cand.cid)
         |SELECT qid, cid, adist, rn FROM (
         |  SELECT qid, cid, adist,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY adist, cid) AS BIGINT) AS rn
         |  FROM sadc)
         |WHERE rn <= 5 ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.marginMinePairs: label-0 vs label-1 sides,
    // floor-micro cosines, integer k-NN sums, mutual margin-best with
    // the exact-integer threshold inequality (k=4, thr=1000 permille)
    "q216_margin_mining" ->
      s"""WITH $flatCte,
         |sa AS (SELECT f.vec_id AS id_a, f.i, f.v FROM flat f
         |       JOIN embeddings e ON e.vec_id = f.vec_id WHERE e.label = 0),
         |sb AS (SELECT f.vec_id AS id_b, f.i, f.v FROM flat f
         |       JOIN embeddings e ON e.vec_id = f.vec_id WHERE e.label = 1),
         |na AS (SELECT id_a, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS nrm
         |       FROM sa GROUP BY id_a),
         |nb AS (SELECT id_b, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS nrm
         |       FROM sb GROUP BY id_b),
         |dots AS (SELECT a.id_a, b.id_b, SUM(a.v * b.v) AS dot
         |         FROM sa a JOIN sb b ON b.i = a.i GROUP BY a.id_a, b.id_b),
         |pr AS MATERIALIZED (SELECT d.id_a, d.id_b,
         |        CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
         |          / (na.nrm * nb.nrm)) AS BIGINT) AS c
         |      FROM dots d JOIN na ON na.id_a = d.id_a
         |      JOIN nb ON nb.id_b = d.id_b),
         |ka AS (SELECT id_a, CAST(SUM(c) AS BIGINT) AS s_a FROM (
         |         SELECT id_a, c, row_number() OVER (PARTITION BY id_a
         |           ORDER BY c DESC, id_b) AS rn FROM pr)
         |       WHERE rn <= 4 GROUP BY id_a),
         |kb AS (SELECT id_b, CAST(SUM(c) AS BIGINT) AS s_b FROM (
         |         SELECT id_b, c, row_number() OVER (PARTITION BY id_b
         |           ORDER BY c DESC, id_a) AS rn FROM pr)
         |       WHERE rn <= 4 GROUP BY id_b),
         |sc AS (SELECT pr.id_a, pr.id_b, pr.c, ka.s_a, kb.s_b,
         |         CAST(8 * pr.c AS DOUBLE) / CAST(ka.s_a + kb.s_b AS DOUBLE)
         |           AS margin
         |       FROM pr JOIN ka ON ka.id_a = pr.id_a
         |       JOIN kb ON kb.id_b = pr.id_b
         |       WHERE ka.s_a + kb.s_b > 0),
         |mb AS (SELECT *,
         |         row_number() OVER (PARTITION BY id_a
         |           ORDER BY margin DESC, id_b) AS ra,
         |         row_number() OVER (PARTITION BY id_b
         |           ORDER BY margin DESC, id_a) AS rb
         |       FROM sc)
         |SELECT id_a, id_b, c AS c_micro,
         |  CAST(floor(1000000.0 * (8 * c) / CAST(s_a + s_b AS DOUBLE))
         |    AS BIGINT) AS margin_micro
         |FROM mb WHERE ra = 1 AND rb = 1
         |  AND 1000 * 8 * c >= 1000 * (s_a + s_b)
         |ORDER BY id_a""".stripMargin,

    // Mirrors Similarity.ivfPqRefineTopK: q122's IVF-PQ chain cut at
    // top-20, then q30's exact-cosine arithmetic reranks the sliver
    "q218_ivfpq_refine" ->
      s"""WITH $flatCte,
         |${ivfCte(nCentroids = 16, lloydIters = 2, nprobe = 2)},
         |${pqCte(m = 4, dsub = 16, ksub = 16, iters = 2)},
         |cand AS (SELECT q.vec_id AS qid, c.vec_id AS cid
         |         FROM probes q JOIN assign c ON q.cell = c.cell
         |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
         |plut AS (SELECT s.vec_id AS qid, s.sub, c.c_id AS code,
         |           CAST(SUM((s.v - c.cv) * (s.v - c.cv)) AS BIGINT) AS d
         |         FROM sflat s JOIN p2 c ON c.sub = s.sub AND c.j = s.j
         |         WHERE s.vec_id < 10
         |         GROUP BY s.vec_id, s.sub, c.c_id),
         |padc AS (SELECT cand.qid, cand.cid,
         |           CAST(SUM(l.d) AS BIGINT) AS adist
         |         FROM cand
         |         JOIN penc e ON e.vec_id = cand.cid
         |         JOIN plut l ON l.qid = cand.qid
         |           AND l.sub = e.sub AND l.code = e.code
         |         GROUP BY cand.qid, cand.cid),
         |cand20 AS (SELECT qid, cid FROM (
         |             SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |               ORDER BY adist, cid) AS rn
         |             FROM padc) WHERE rn <= 20),
         |rdots AS (SELECT p.qid, p.cid, SUM(fq.v * fc.v) AS dot
         |          FROM cand20 p
         |          JOIN flat fq ON fq.vec_id = p.qid
         |          JOIN flat fc ON fc.vec_id = p.cid AND fc.i = fq.i
         |          GROUP BY p.qid, p.cid),
         |rcos AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |         FROM rdots
         |         JOIN norms nq ON nq.vec_id = qid
         |         JOIN norms nc ON nc.vec_id = cid),
         |rr AS (SELECT qid, cid, cos,
         |         CAST(row_number() OVER (PARTITION BY qid
         |           ORDER BY cos DESC, cid) AS BIGINT) AS rn
         |       FROM rcos)
         |SELECT qid, cid, cos, rn FROM rr WHERE rn <= 5
         |ORDER BY qid, rn""".stripMargin,

    // Mirrors Similarity.marginMinePairsFromCells: q49's two-level
    // cells + cap, cross-side same-cell candidates, then q216's
    // margin arithmetic over the sliver
    "q217_margin_mining_cells" ->
      s"""WITH $flatCte,
         |${twoLevelCte(nCentroids = 16, lloydIters = 2, coarse = 4, coarseProbe = 2)},
         |szok AS (SELECT cell FROM assign2 GROUP BY cell HAVING COUNT(*) <= 256),
         |memb AS (SELECT assign2.vec_id, assign2.cell
         |         FROM assign2 JOIN szok USING (cell)),
         |la AS (SELECT m.vec_id AS id_a, m.cell FROM memb m
         |       JOIN embeddings e ON e.vec_id = m.vec_id WHERE e.label = 0),
         |lb AS (SELECT m.vec_id AS id_b, m.cell FROM memb m
         |       JOIN embeddings e ON e.vec_id = m.vec_id WHERE e.label = 1),
         |cp AS (SELECT a.id_a, b.id_b FROM la a JOIN lb b ON b.cell = a.cell),
         |dots AS (SELECT p.id_a, p.id_b, SUM(f1.v * f2.v) AS dot
         |         FROM cp p
         |         JOIN flat f1 ON f1.vec_id = p.id_a
         |         JOIN flat f2 ON f2.vec_id = p.id_b AND f2.i = f1.i
         |         GROUP BY p.id_a, p.id_b),
         |pr AS MATERIALIZED (SELECT d.id_a, d.id_b,
         |        CAST(floor(1000000.0 * CAST(dot AS DOUBLE)
         |          / (na.nrm * nb.nrm)) AS BIGINT) AS c
         |      FROM dots d JOIN norms na ON na.vec_id = d.id_a
         |      JOIN norms nb ON nb.vec_id = d.id_b),
         |ka AS (SELECT id_a, CAST(SUM(c) AS BIGINT) AS s_a FROM (
         |         SELECT id_a, c, row_number() OVER (PARTITION BY id_a
         |           ORDER BY c DESC, id_b) AS rn FROM pr)
         |       WHERE rn <= 4 GROUP BY id_a),
         |kb AS (SELECT id_b, CAST(SUM(c) AS BIGINT) AS s_b FROM (
         |         SELECT id_b, c, row_number() OVER (PARTITION BY id_b
         |           ORDER BY c DESC, id_a) AS rn FROM pr)
         |       WHERE rn <= 4 GROUP BY id_b),
         |sc AS (SELECT pr.id_a, pr.id_b, pr.c, ka.s_a, kb.s_b,
         |         CAST(8 * pr.c AS DOUBLE) / CAST(ka.s_a + kb.s_b AS DOUBLE)
         |           AS margin
         |       FROM pr JOIN ka ON ka.id_a = pr.id_a
         |       JOIN kb ON kb.id_b = pr.id_b
         |       WHERE ka.s_a + kb.s_b > 0),
         |mb AS (SELECT *,
         |         row_number() OVER (PARTITION BY id_a
         |           ORDER BY margin DESC, id_b) AS ra,
         |         row_number() OVER (PARTITION BY id_b
         |           ORDER BY margin DESC, id_a) AS rb
         |       FROM sc)
         |SELECT id_a, id_b, c AS c_micro,
         |  CAST(floor(1000000.0 * (8 * c) / CAST(s_a + s_b AS DOUBLE))
         |    AS BIGINT) AS margin_micro
         |FROM mb WHERE ra = 1 AND rb = 1
         |  AND 1000 * 8 * c >= 1000 * (s_a + s_b)
         |ORDER BY id_a""".stripMargin,

    // Mirrors Similarity.dimTruncationCurve: per-width truncated
    // brute force vs the q30 full-width truth, annRecall protocol
    "q215_dim_truncation" ->
      s"""WITH $flatCte,
         |ds AS (SELECT unnest([8, 16, 32, 64]) AS d),
         |tr AS (SELECT ds.d, f.vec_id, f.i, f.v
         |       FROM flat f CROSS JOIN ds
         |       WHERE f.i <= ds.d AND f.vec_id IN
         |         (SELECT vec_id FROM embeddings WHERE len(embedding) = 64)),
         |tn AS (SELECT d, vec_id, sqrt(CAST(SUM(v*v) AS DOUBLE)) AS nrm
         |       FROM tr GROUP BY d, vec_id),
         |tdots AS (SELECT q.d, q.vec_id AS qid, c.vec_id AS cid,
         |            SUM(q.v * c.v) AS dot
         |          FROM tr q JOIN tr c ON c.d = q.d AND c.i = q.i
         |          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |          GROUP BY q.d, q.vec_id, c.vec_id),
         |tcos AS (SELECT t.d, qid, cid,
         |           CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS tcos
         |         FROM tdots t
         |         JOIN tn nq ON nq.d = t.d AND nq.vec_id = t.qid
         |           AND nq.nrm > 0
         |         JOIN tn nc ON nc.d = t.d AND nc.vec_id = t.cid
         |           AND nc.nrm > 0),
         |ap AS (SELECT d, qid, cid FROM (
         |         SELECT d, qid, cid, row_number() OVER (PARTITION BY d, qid
         |           ORDER BY tcos DESC, cid) AS rn
         |         FROM tcos) WHERE rn <= 5),
         |hv AS (SELECT e.vec_id FROM embeddings e
         |       JOIN norms n ON n.vec_id = e.vec_id
         |       WHERE len(e.embedding) = 64 AND n.nrm > 0),
         |bd AS (SELECT q.vec_id AS qid, c.vec_id AS cid, SUM(q.v * c.v) AS dot
         |       FROM flat q JOIN flat c ON q.i = c.i
         |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
         |         AND q.vec_id IN (SELECT vec_id FROM hv)
         |         AND c.vec_id IN (SELECT vec_id FROM hv)
         |       GROUP BY q.vec_id, c.vec_id),
         |bc AS (SELECT qid, cid, CAST(dot AS DOUBLE) / (nq.nrm * nc.nrm) AS cos
         |       FROM bd JOIN norms nq ON nq.vec_id = qid
         |       JOIN norms nc ON nc.vec_id = cid),
         |truth AS (SELECT qid, cid FROM (
         |            SELECT qid, cid, row_number() OVER (PARTITION BY qid
         |              ORDER BY cos DESC, cid) AS rn
         |            FROM bc) WHERE rn <= 5),
         |td AS (SELECT ds.d, t.qid, t.cid FROM truth t CROSS JOIN ds)
         |SELECT CAST(td.d AS BIGINT) AS d, td.qid,
         |  CAST(COUNT(*) AS BIGINT) AS n_truth,
         |  CAST(SUM(CASE WHEN ap.cid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hit,
         |  CAST((SUM(CASE WHEN ap.cid IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000000) // COUNT(*) AS BIGINT) AS recall_micro
         |FROM td LEFT JOIN ap ON ap.d = td.d AND ap.qid = td.qid
         |  AND ap.cid = td.cid
         |GROUP BY td.d, td.qid ORDER BY d, td.qid""".stripMargin,

    // Mirrors Curation.clusterAwareSplit: q51's component closure,
    // every doc keyed by COALESCE(component, doc_id), the q40 md5
    // split rule on that key
    "q213_cluster_split" ->
      s"""WITH RECURSIVE $dupComponentsCtes,
         |keyed AS (SELECT d.doc_id,
         |    COALESCE(c.component, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |bkt AS (SELECT doc_id, split_key,
         |    CAST(concat('0x', substr(md5(CAST(split_key AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 100 AS bucket
         |  FROM keyed)
         |SELECT doc_id, split_key, bucket,
         |  CASE WHEN bucket < 80 THEN 'train'
         |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
         |FROM bkt ORDER BY doc_id""".stripMargin,

    // Mirrors TextAnalysis.nbReliability: q157's held-out scoring
    // chain, docs binned by floor(llr/200000) through DOUBLE (DuckDB
    // `//` floors but Spark `div` truncates — llr is signed, so the
    // explicit floor is the shared spelling)
    "q214_nb_reliability" ->
      s"""WITH ${nbCtes("b <= 7")},
         |dc AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id, unnest(string_split(norm, ' ')) AS tok
         |    FROM lab WHERE b >= 8)
         |  WHERE length(tok) > 0 GROUP BY doc_id, tok),
         |sc AS (SELECT d.doc_id, d.c,
         |    COALESCE(lm.lnp1, (SELECT oov1 FROM ct))
         |      - COALESCE(lm.lnp0, (SELECT oov0 FROM ct)) AS dl
         |  FROM dc d LEFT JOIN lm ON lm.token = d.tok),
         |ag AS (SELECT doc_id,
         |    CAST(SUM(c * dl) AS BIGINT) AS tok_llr FROM sc GROUP BY doc_id),
         |sl AS (SELECT doc_id,
         |    tok_llr + (SELECT prior_diff FROM ct) AS llr FROM ag),
         |bn AS (SELECT l.cls,
         |    CAST(floor(CAST(sl.llr AS DOUBLE) / 200000) AS BIGINT) AS bin
         |  FROM sl JOIN lab l ON l.doc_id = sl.doc_id)
         |SELECT bin, CAST(bin * 200000 AS BIGINT) AS llr_lo_micro,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(cls) AS BIGINT) AS n_pos,
         |  CAST((SUM(cls) * 1000000) // COUNT(*) AS BIGINT) AS pos_rate_micro
         |FROM bn GROUP BY bin ORDER BY bin""".stripMargin,

    // Mirrors Dedup.clusterKeepsByScore over the q51 components and
    // the q156 NB llr: per-component argmax (score desc, doc_id asc)
    "q220_cluster_keep_quality" ->
      s"""WITH RECURSIVE $dupComponentsCtes,
         |${nbCtes("TRUE")},
         |$nbScoreBodyCtes,
         |lscore AS (SELECT doc_id,
         |    CAST(tok_llr + (SELECT prior_diff FROM ct) AS BIGINT) AS score
         |  FROM ag),
         |cl AS (SELECT c.doc_id, c.component, cs.cluster_size, s.score
         |       FROM comp c JOIN cs USING (component)
         |       JOIN lscore s ON s.doc_id = c.doc_id),
         |win AS (SELECT component, doc_id AS keep_id FROM (
         |          SELECT component, doc_id,
         |            row_number() OVER (PARTITION BY component
         |              ORDER BY score DESC, doc_id) AS rn
         |          FROM cl) WHERE rn = 1)
         |SELECT cl.doc_id, cl.component, cl.cluster_size, cl.score,
         |  (cl.doc_id = win.keep_id) AS keep
         |FROM cl JOIN win USING (component) ORDER BY cl.doc_id""".stripMargin,

    // Mirrors Curation.repeatPlanTemperature: √tokens weights, the
    // HUGEINT cross-multiplied cap rule, Hamilton apportionment
    "q219_repeat_temperature" ->
      s"""WITH per AS (SELECT source,
         |    CAST(SUM(CASE WHEN length($norm) = 0 THEN 0
         |         ELSE len(string_split($norm, ' ')) END) AS BIGINT) AS t
         |  FROM documents GROUP BY source HAVING t > 0),
         |c AS (SELECT source, t, t * 2 AS cap,
         |    CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1000000) AS BIGINT) AS w
         |  FROM per),
         |r AS (SELECT source, t, cap, w,
         |    COALESCE(SUM(cap) OVER (
         |      ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pprev,
         |    SUM(w) OVER (
         |      ORDER BY CAST(cap AS DOUBLE) / CAST(w AS DOUBLE), source
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wsuf
         |  FROM c),
         |f AS (SELECT *, (CAST(cap AS HUGEINT) * wsuf <=
         |        CAST(30000 - pprev AS HUGEINT) * w) AS capped FROM r),
         |g AS (SELECT *,
         |    CAST(COALESCE(SUM(CASE WHEN capped THEN cap END) OVER (), 0)
         |      AS BIGINT) AS pm,
         |    CAST(COALESCE(SUM(CASE WHEN NOT capped THEN w END) OVER (), 0)
         |      AS BIGINT) AS wunc
         |  FROM f),
         |h AS (SELECT *, 30000 - pm AS rem,
         |    CASE WHEN capped THEN NULL
         |         ELSE CAST((CAST(30000 - pm AS HUGEINT) * w) // wunc
         |           AS BIGINT) END AS base,
         |    CASE WHEN capped THEN NULL
         |         ELSE (CAST(30000 - pm AS HUGEINT) * w) % wunc END AS rmd
         |  FROM g),
         |i AS (SELECT *,
         |    CAST(rem - COALESCE(SUM(base) OVER (), 0) AS BIGINT) AS dist,
         |    CAST(row_number() OVER (ORDER BY capped, rmd DESC, source)
         |      AS BIGINT) AS rrk
         |  FROM h)
         |SELECT source, t AS n_tokens, w AS w_micro, cap AS capacity,
         |  CAST(CASE WHEN capped THEN cap
         |       ELSE base + (CASE WHEN rrk <= dist THEN 1 ELSE 0 END) END
         |    AS BIGINT) AS alloc_tokens,
         |  CAST(((CASE WHEN capped THEN cap
         |       ELSE base + (CASE WHEN rrk <= dist THEN 1 ELSE 0 END) END)
         |    * 1000) // t AS BIGINT) AS epochs_milli,
         |  capped
         |FROM i ORDER BY source""".stripMargin,

    // Mirrors Curation.repeatPlan: the integer water-fill over the
    // K-row source table — capped prefix, exact remainder spread
    "q211_repeat_plan" ->
      s"""WITH per AS (SELECT source,
         |    CAST(SUM(CASE WHEN length($norm) = 0 THEN 0
         |         ELSE len(string_split($norm, ' ')) END) AS BIGINT) AS t
         |  FROM documents GROUP BY source HAVING t > 0),
         |c AS (SELECT source, t, t * 2 AS cap FROM per),
         |r AS (SELECT source, t, cap,
         |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
         |    COALESCE(SUM(cap) OVER (ORDER BY cap, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pprev,
         |    CAST(COUNT(*) OVER () AS BIGINT) AS k
         |  FROM c),
         |f AS (SELECT *, (CAST(cap AS HUGEINT) * (k - i + 1)
         |        <= CAST(30000 - pprev AS HUGEINT)) AS capped
         |      FROM r),
         |g AS (SELECT *,
         |    CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS m,
         |    CAST(COALESCE(SUM(CASE WHEN capped THEN cap END) OVER (), 0)
         |      AS BIGINT) AS pm
         |  FROM f),
         |h AS (SELECT source, t, cap, capped,
         |    CAST(CASE WHEN capped THEN cap
         |         ELSE (30000 - pm) // (k - m) +
         |           (CASE WHEN i - m <= (30000 - pm) % (k - m)
         |            THEN 1 ELSE 0 END) END AS BIGINT) AS alloc
         |  FROM g)
         |SELECT source, t AS n_tokens, cap AS capacity,
         |  alloc AS alloc_tokens,
         |  CAST((alloc * 1000) // t AS BIGINT) AS epochs_milli, capped
         |FROM h ORDER BY source""".stripMargin,

    // q51's closure over the pair graph of the SURVIVING evens from
    // scratch — the label-store takedown (touched-component recompute
    // + re-admitted-pair fold) must land exactly here
    "q208_components_retract" ->
      s"""WITH RECURSIVE ${dupComponentsCtesFor(" WHERE doc_id % 2 = 0")}
         |SELECT c.doc_id, c.component, cs.cluster_size
         |FROM comp c JOIN cs USING (component) ORDER BY doc_id""".stripMargin,
  )

  /** The driver-facing oracle map: every standalone SQL plus the
    * entries that reuse a sibling's SQL verbatim.
    */
  val oracleSql: Map[String, String] =
    baseOracleSql ++
      composedTwinOf.map { case (twin, sibling) =>
        twin -> baseOracleSql(sibling) }
}
