package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.engine.ParquetRead
import graft.operators.{Curation, SubstringDedup, TextAnalysis}

/** Structured Streaming over the documents table: the incremental
  * side of the document pillars, for pipelines that ingest a document
  * firehose.
  *
  * The rule: a batch operator runs over `readStream` UNCHANGED when
  * its plan is row-local work plus at most one aggregation
  * ([[graft.operators.OrderedOut]]'s `spread()` is a no-op on a
  * stream so that this holds), and such an operator has no copy here —
  * the stream calls the batch operator. Examples:
  * [[graft.operators.TextAnalysis.nbTypeCounts]],
  * [[graft.operators.TextAnalysis.nbScoreFrom]],
  * [[graft.operators.NgramLm.bigramCounts]],
  * [[graft.operators.SubstringDedup.windowIndex]],
  * [[graft.operators.Curation.clusterAwareSplit]] and
  * [[graft.operators.BloomDecontam.decontaminateWithFilter]].
  * What stays here is what no batch operator expresses:
  *  - stateful semantics batch has no operator for: emit-once keyed
  *    state ([[dedupedDocs]], [[repeatedSpans]], [[nearDupPairs]]),
  *    signed retraction folds kept live (the `*Signed` twins,
  *    [[manifestDigestStreamSigned]]) and the micro-batch label-store
  *    fold ([[componentsFoldSink]]);
  *  - gates whose row-local signals ride the token rows as grouping
  *    columns, because a streaming aggregate cannot join a second
  *    derivative of its own stream ([[compositeGateStream]],
  *    [[lmGateStream]]);
  *  - [[cmsCells]], whose ×depth expansion rides token occurrences
  *    where the batch `cmsTable` hashes token types (two chained
  *    aggregations);
  *  - [[bm25ScoreStream]], which streams QUERIES against the
  *    persisted impact index (the batch scorer ranks a top-k per query
  *    over a window, which a stream cannot), and the sources.
  *
  * Same twin-checking scheme as [[EventStreams]]: the streaming result
  * over a static input is compared with the batch operator the DuckDB
  * oracle already arbitrates (StreamingSpec).
  *
  * Scale: exact dedup state is one (fingerprint → keep_id) entry per
  * DISTINCT document ever seen — the inherent floor for exact
  * streaming dedup (you cannot forget a fingerprint without risking a
  * re-emit). The state store shards by fingerprint across executors
  * like any keyed state; for bounded-memory deployments compose with
  * a processing-time TTL upstream (accepting re-emits past the
  * horizon) or periodically compact state to a bloom-filter side
  * input.
  */
object DocStreams extends Serializable {

  /** The documents schema as readStream needs it declared up front. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-based stream source over a parquet directory. */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)

  /** [[docSchema]] plus the signed-event column: `op` = +1 for an
    * ingested document, -1 for a takedown event carrying the same
    * text — the retraction-stream shape the signed count twins
    * consume.
    */
  val signedDocSchema: StructType =
    StructType(docSchema.fields :+ StructField("op", LongType))

  /** File-based stream source over signed (ingest/takedown) events. */
  def readSignedDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(signedDocSchema).parquet(dir)

  final case class FpDoc(fp: String, doc_id: Long)
  final case class Keeper(fp: String, keep_id: Long)

  /** Streaming exact dedup: emit one [[Keeper]] per distinct content
    * fingerprint — the micro-batch's min doc_id on first sight,
    * nothing on later copies. Within a single micro-batch this equals
    * the batch `Dedup.exactDuplicates` canonical choice (min doc_id);
    * across batches the FIRST ARRIVAL wins, which is the streaming
    * semantics a firehose consumer wants (the canonical copy is
    * already downstream and must not be replaced).
    */
  def dedupedDocs(docs: DataFrame): Dataset[Keeper] = {
    import docs.sparkSession.implicits._
    docs
      .select(TextAnalysis.fingerprint(col("text")).as("fp"), col("doc_id"))
      .as[FpDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, Keeper](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[FpDoc], state: GroupState[Long]) =>
          if (state.exists) {
            // canonical copy already emitted in an earlier batch
            Iterator.empty
          } else {
            val keepId = it.map(_.doc_id).min
            state.update(keepId)
            Iterator.single(Keeper(fp, keepId))
          }
      }
  }

  final case class RepeatedSpan(fp: String)

  /** Streaming repeated-span detection — the incremental twin of the
    * batch `SubstringDedup.duplicatedWindows` (q111/q112's dup rule):
    * each arriving document explodes into its `k`-token window
    * fingerprints (the same pure-expression derivation,
    * [[SubstringDedup.windowFpArray]]), per-fingerprint occurrence
    * counts accumulate in keyed state, and a fingerprint is emitted
    * exactly ONCE — in the micro-batch where its corpus-lifetime count
    * first reaches 2 (within-doc repeats count, matching the batch
    * rule). Over a static input the emitted set equals the batch
    * operator's fingerprint set.
    *
    * Scale: state is one counter per distinct window fingerprint ever
    * seen — the same inherent floor as streaming exact dedup (forget a
    * count and a later repeat is missed); the store shards by fp. For
    * bounded-memory deployments compact cold counters into a
    * [[graft.operators.BloomDecontam]]-style bit/count side input and
    * accept approximate re-detection past the horizon.
    */
  def repeatedSpans(docs: DataFrame, k: Int = 8): Dataset[RepeatedSpan] = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(SubstringDedup.windowFpArray(col("text"), k)).as("fp"))
      .as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState[Long, RepeatedSpan](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, it: Iterator[String], state: GroupState[Long]) =>
          val prev = state.getOption.getOrElse(0L)
          val now = prev + it.size
          state.update(now)
          if (prev < 2 && now >= 2) Iterator.single(RepeatedSpan(fp))
          else Iterator.empty
      }
  }

  final case class BandDoc(band: Int, chunk: Long, doc_id: Long, sim: Long)
  final case class SimPair(id1: Long, id2: Long, hamming: Long)

  /** Streaming NEAR-dup detection — the incremental twin of the batch
    * `Dedup.simhashDupPairs`: each arriving document is simhashed
    * (the codegen'd [[graft.plans.SimHash32Expression]] is a pure
    * narrow expression, so it runs in a stream unchanged), split into
    * the same 4×8-bit bands, and compared against every earlier
    * document that shared a band — a pair is emitted when Hamming
    * distance ≤ `maxDist` (bands are pigeonhole-complete for ≤ 3).
    *
    * Emission semantics: a pair surfaces when its LATER member
    * arrives, in the band bucket(s) the two share — a pair sharing
    * two bands is emitted once per shared band, so consumers (and the
    * twin spec) `dropDuplicates(id1, id2)`, exactly the dedup the
    * batch operator applies after its band join.
    *
    * Scale: state per (band, chunk) bucket is capped at `maxBucket`
    * (doc_id, simhash) entries — 16 bytes each, the SAME hot-bucket
    * recall trade as the batch `capBuckets`: a bucket past the cap
    * stops admitting members instead of quadratically exploding.
    * Unlike exact dedup there is no unbounded-fingerprint floor
    * argument here; for horizon-bounded deployments swap NoTimeout
    * for a processing-time TTL and accept missed pairs across the
    * horizon.
    */
  def nearDupPairs(docs: DataFrame, maxDist: Int = 3,
      maxBucket: Int = 1024): Dataset[SimPair] = {
    import docs.sparkSession.implicits._
    import graft.plans.SimHash32Expression.simhash32
    val banded = docs
      .select(col("doc_id"),
        simhash32(split(TextAnalysis.normText(col("text")), " ")).as("sim"))
      .select(col("doc_id"), col("sim"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sim"), b * 8).bitwiseAND(lit(255L))): _*))
          .as(Seq("band", "chunk")))
      .select(col("band").cast("int").as("band"), col("chunk"),
        col("doc_id"), col("sim").as("sim"))
      .as[BandDoc]
    banded
      .groupByKey(d => (d.band, d.chunk))
      .flatMapGroupsWithState[List[(Long, Long)], SimPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), it: Iterator[BandDoc],
            state: GroupState[List[(Long, Long)]]) =>
          var members = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[SimPair]
          // doc_id order within the batch: deterministic emission no
          // matter how the micro-batch iterator is ordered
          it.toSeq.sortBy(_.doc_id).foreach { d =>
            if (members.size < maxBucket &&
                !members.exists(_._1 == d.doc_id)) {
              members.foreach { case (oid, osim) =>
                val ham = java.lang.Long.bitCount(osim ^ d.sim).toLong
                if (ham <= maxDist)
                  out += SimPair(math.min(oid, d.doc_id),
                    math.max(oid, d.doc_id), ham)
              }
              members = (d.doc_id, d.sim) :: members
            }
          }
          state.update(members)
          out.result().iterator
      }
  }

  /** Streaming BM25 query scoring: a QUERY firehose — (query_id,
    * token) rows arriving over time — scored against the
    * batch-precomputed impact index
    * ([[graft.operators.TextAnalysis.bm25TermTable]], the model/data
    * split of the pqCodes twin: the corpus-side artifact trains/
    * builds offline and ships in). The stream-static join is
    * STATELESS; the per-(query, doc) running sum is a streaming
    * aggregation in update mode; duplicate (query, token) arrivals
    * dedupe via `dropDuplicates` keyed state (one row per query term,
    * [[graft.operators.TextAnalysis.bm25Batch]]'s distinct contract —
    * compose a watermark upstream to bound that state for unbounded
    * query streams).
    *
    * Twin contract (StreamingSpec): final (query_id, doc_id,
    * score_micro) values equal bm25Batch's pre-rank scores.
    */
  def bm25ScoreStream(queries: DataFrame, impactIndex: DataFrame): DataFrame =
    queries
      .dropDuplicates("query_id", "token")
      .join(impactIndex, Seq("token"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("ts_micro")).as("score_micro"))

  /** A per-source threshold cut shipped as a literal map, looked up
    * by the row's `source`. An EMPTY cut table (a gate whose every
    * source has keep quota zero) must match the batch gates' contract,
    * not throw: their left join yields a NULL threshold, so every doc
    * drops. A zero-arg map() literal has no value type, so the empty
    * case is a typed NULL column instead.
    */
  private def sourceLookup(entries: Seq[(String, Long)]): Column =
    if (entries.isEmpty) lit(null).cast("long")
    else element_at(map(entries.flatMap { case (s, v) =>
      Seq(lit(s), lit(v)) }: _*), col("source"))

  /** Streaming composite keep/drop gate — [[graft.operators.Curation
    * .compositeGateFrom]]'s firehose twin: every arriving document is
    * gated by the OFFLINE-trained artifacts with zero keyed state
    * beyond the one per-doc score aggregation. The model/data split of
    * the codebook pattern: the LM joins stream-static, the one-row
    * constants and the K-row [[graft.operators.Curation
    * .gateThresholds]] cut table ship as literals. The row-local
    * signals (gopher verdict via [[TextAnalysis.gopherKeepCol]],
    * entropy, source) ride the token rows as GROUPING columns —
    * constants per doc, so the grouping is unchanged — because a
    * streaming aggregate cannot join a second derivative of the same
    * stream; the post-aggregation threshold test is a plain
    * projection. Twin contract (StreamingSpec): final update-mode
    * rows equal compositeGateFrom over the same corpus.
    *
    * `thresholds` rows are (source, thr_llr_micro, thr_doc_id).
    */
  def compositeGateStream(docs: DataFrame, lm: DataFrame, oov1: Long,
      oov0: Long, priorDiff: Long,
      thresholds: Seq[(String, Long, Long)],
      minEntropyMilli: Long = graft.operators.Curation.MinEntropyMilli,
      maxEntropyMilli: Long = graft.operators.Curation.MaxEntropyMilli): DataFrame = {
    import graft.plans.CharEntropyExpression.charEntropyMilli
    val thrLlr = sourceLookup(thresholds.map { case (s, t, _) => (s, t) })
    val thrId = sourceLookup(thresholds.map { case (s, _, i) => (s, i) })
    docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.gopherKeepCol(col("text")).as("ok_gopher"),
        charEntropyMilli(TextAnalysis.normText(col("text")))
          .as("entropy_milli"),
        explode(split(TextAnalysis.normText(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
      .join(lm, Seq("token"), "left")
      .groupBy(col("doc_id"), col("source"), col("ok_gopher"),
        col("entropy_milli"))
      .agg(sum(coalesce(col("lnp1"), lit(oov1)) -
        coalesce(col("lnp0"), lit(oov0))).cast("long").as("tok_llr"))
      .withColumn("llr_micro", col("tok_llr") + lit(priorDiff))
      .withColumn("thr", thrLlr)
      .withColumn("thr_id", thrId)
      .select(col("doc_id"), col("source"), col("llr_micro"),
        col("entropy_milli"),
        (col("thr").isNotNull && (col("llr_micro") > col("thr") ||
          (col("llr_micro") === col("thr") &&
            col("doc_id") <= col("thr_id")))).as("ok_nb"),
        col("ok_gopher"),
        (col("entropy_milli") >= minEntropyMilli &&
          col("entropy_milli") <= maxEntropyMilli).as("ok_entropy"))
      .withColumn("keep",
        col("ok_nb") && col("ok_gopher") && col("ok_entropy"))
  }

  /** RETRACTION-AWARE NB count maintenance: the signed sibling of
    * [[graft.operators.TextAnalysis.nbTypeCounts]] (which runs over
    * `readStream` as is) over a labeled ingest/takedown event stream
    * (`cls` 1L/0L precomputed as there, `op` +1/-1 per
    * [[signedDocSchema]]). Class counts are additive both ways, so a
    * takedown event subtracts its token occurrences from the running
    * (token, tf1, tf0) state — [[graft.operators.TextAnalysis
    * .nbCountsRetract]]'s fold, kept live; derive a compliant model
    * from the current state via `nbLmFromCounts` at any cadence.
    *
    * Twin contract (StreamingSpec): restricted to rows with
    * `tf1 + tf0 > 0`, final values equal batch `nbCounts` over
    * ingests ∖ takedowns; a token whose counts reach (0, 0) emits a
    * zero row — the update-mode tombstone matching the batch fold's
    * vocabulary drop. Same source discipline as the signed window
    * index: exactly-once, ingest-before-takedown.
    */
  def nbCountStreamSigned(labeled: DataFrame): DataFrame =
    labeled
      .select(col("op"), col("cls"),
        explode(split(TextAnalysis.normText(col("text")), " ")).as("token"))
      .where(length(col("token")) > 0)
      .groupBy(col("token"))
      .agg(sum(when(col("cls") === 1L, col("op")).otherwise(0L)).as("tf1"),
        sum(when(col("cls") === 0L, col("op")).otherwise(0L)).as("tf0"))

  /** Dup-pair stream schema for the label-store fold sink. */
  val pairSchema: StructType = StructType(Seq(
    StructField("id1", LongType), StructField("id2", LongType)))

  /** File-based stream source over dup-pair deliveries. */
  def readPairs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(pairSchema).parquet(dir)

  private val labelSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("component", LongType),
    StructField("cluster_size", LongType)))

  /** The label store's CURRENT generation under `storeDir`: the
    * highest `gen-<batchId>` directory carrying Spark's `_SUCCESS`
    * marker (a crashed batch leaves no marker and is invisible);
    * an empty typed store before the first fold.
    */
  def currentLabels(spark: SparkSession, storeDir: String): DataFrame = {
    val root = new java.io.File(storeDir)
    val gens = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("gen-") &&
        new java.io.File(d, "_SUCCESS").isFile)
      .map(d => d.getName.stripPrefix("gen-").toLong)
    if (gens.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], labelSchema)
    else ParquetRead.parquet(spark, s"$storeDir/gen-${gens.max}")
  }

  /** MICRO-BATCH maintenance of the dup-cluster label store — the
    * streaming twin of [[graft.operators.Dedup.componentsFold]]
    * (q207): each arriving pair micro-batch folds into the persisted
    * store via foreachBatch, publishing a new `gen-<batchId>`
    * parquet generation that stream consumers such as
    * [[graft.operators.Curation.clusterAwareSplit]] over `readStream`
    * pick up on their next restart. componentsFold is an iterative
    * connected-components recompute of the TOUCHED components only —
    * not expressible as a streaming aggregation — so the store rides
    * parquet generations instead of the state store: per batch, cost
    * is the touched slice, and the `_SUCCESS`-gated generation swap
    * makes a crash mid-fold invisible ([[currentLabels]]).
    *
    * Exactly-once: a replayed micro-batch (checkpoint recovery)
    * rewrites its own generation from the SAME prior store — folding
    * an already-present edge set is idempotent (componentsFold of
    * existing pairs returns the store unchanged), so duplicate
    * delivery cannot corrupt labels.
    *
    * Twin contract (StreamingSpec): after n deliveries the current
    * generation equals batch [[graft.operators.Dedup.componentsOf]]
    * over the union of all delivered pairs — including deliveries
    * whose pairs MERGE components across earlier batches.
    */
  def componentsFoldSink(pairs: DataFrame, storeDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val fold = (batch: DataFrame, batchId: Long) => {
      val spark = batch.sparkSession
      val prior = currentLabels(spark, storeDir).localCheckpoint(true)
      val next = graft.operators.Dedup.componentsFold(prior,
        batch.select(col("id1"), col("id2")))
      next.write.mode("overwrite").parquet(s"$storeDir/gen-$batchId")
    }
    pairs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fold)
      .start()
  }

  /** Streaming perplexity gate: the served per-source LM cut
    * ([[graft.operators.NgramLm.lmGateFrom]]) over a document
    * firehose — the LM model (bigram + context count tables) joins
    * STREAM-STATIC, the one-row constants and the K-row threshold
    * cut ship as literals (the [[compositeGateStream]] model/data split),
    * and the only keyed state is the per-doc score aggregation.
    * Emits (doc_id, source, avg_nll_micro, keep) per scored doc —
    * docs with fewer than two tokens produce no bigrams and are
    * absent, the batch scorer's exact contract.
    *
    * Twin contract (StreamingSpec): verdicts == the batch
    * `lmGateFrom` row for row on the same corpus and artifacts.
    */
  def lmGateStream(docs: DataFrame, bi: DataFrame, uni: DataFrame,
      v: Long, thresholds: Seq[(String, Long, Long)]): DataFrame = {
    import graft.operators.NgramLm
    val thrNll = sourceLookup(thresholds.map { case (s, t, _) => (s, t) })
    val thrId = sourceLookup(thresholds.map { case (s, _, i) => (s, i) })
    docs
      .select(col("doc_id"), col("source"),
        NgramLm.toksOf(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(NgramLm.bigramsOfToks(col("toks"))).as("bg"))
      .select(col("doc_id"), col("source"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .join(bi.select(col("w1"), col("w2"), col("c12")),
        Seq("w1", "w2"), "left")
      .join(uni.select(col("w1"), col("c1")), Seq("w1"), "left")
      .select(col("doc_id"), col("source"),
        (-NgramLm.lnpMicro(coalesce(col("c12"), lit(0L)) + 1,
          coalesce(col("c1"), lit(0L)) + lit(v) + 1)).as("nll"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_big"), sum(col("nll")).as("nll_micro"))
      .select(col("doc_id"), col("source"),
        expr("nll_micro div n_big").as("avg_nll_micro"))
      .withColumn("thr", thrNll)
      .withColumn("thr_id", thrId)
      .select(col("doc_id"), col("source"), col("avg_nll_micro"),
        (col("thr").isNotNull && (col("avg_nll_micro") < col("thr") ||
          (col("avg_nll_micro") === col("thr") &&
            col("doc_id") <= col("thr_id")))).as("keep"))
  }

  /** RETRACTION-AWARE bigram-LM counts: the signed sibling of
    * [[graft.operators.NgramLm.bigramCounts]] (which runs over
    * `readStream` as is) over an ingest/takedown event stream
    * ([[signedDocSchema]], `op` +1/-1). A takedown event carrying the
    * same text subtracts its bigram occurrences from the running
    * state — [[graft.operators.NgramLm.bigramCountsRetract]]'s fold,
    * kept live.
    *
    * Twin contract (StreamingSpec): restricted to `c12 > 0`, the
    * final values equal the batch counts over ingests ∖ takedowns; a
    * bigram folded to zero emits a `c12=0` tombstone in
    * complete/update mode — where the batch fold drops the row. As
    * with every signed twin, over-retraction SURFACES as `c12 < 0`
    * (the batch fold raises; a firehose cannot see the whole ledger)
    * — consumers must alarm on negative counts, never clamp them.
    * Source discipline: exactly-once, ingest-before-takedown.
    */
  def lmCountStreamSigned(events: DataFrame): DataFrame =
    events
      .select(col("op"),
        graft.operators.NgramLm.toksOf(col("text")).as("toks"))
      .select(col("op"),
        explode(graft.operators.NgramLm.bigramsOfToks(col("toks")))
          .as("bg"))
      .select(col("op"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2"))
      .agg(sum(col("op")).as("c12"))

  /** RETRACTION-AWARE window-index maintenance: the signed sibling of
    * [[graft.operators.SubstringDedup.windowIndex]] (which runs over
    * `readStream` as is) over an ingest/takedown event stream
    * ([[signedDocSchema]] — `op` +1/-1). Window counts are additive
    * both ways, so the live state is a plain signed sum per
    * fingerprint: an ingest event adds its windows, a takedown event
    * carrying the same text subtracts them — [[graft.operators
    * .SubstringDedup.retractedWindowIndex]]'s fold, kept live.
    *
    * Twin contract (StreamingSpec): restricted to `n_occ > 0`, the
    * final values equal the batch index over ingests ∖ takedowns. A
    * fingerprint whose count reaches ZERO is emitted as an `n_occ=0`
    * row in update mode — the delete tombstone an upsert sink applies
    * — which is exactly where the batch fold DROPS the row; the
    * update-mode emission is the streaming spelling of that drop.
    * (The batch fold can afford to raise on a negative count; a
    * firehose cannot re-order a takedown behind its ingest, so
    * exactly-once, ingest-before-takedown event discipline is the
    * source's contract here, as it is for every retraction stream.)
    */
  def windowIndexStreamSigned(events: DataFrame, k: Int = 8): DataFrame =
    events
      .select(col("op"), TextAnalysis.normText(col("text")).as("norm"))
      .where(length(col("norm")) > 0)
      .select(col("op"), posexplode(graft.plans.WindowHashesExpression
        .windowHashes(split(col("norm"), " "), k)).as(Seq("pos0", "fp")))
      .groupBy(col("fp"))
      .agg(sum(col("op")).as("n_occ"))

  /** RETRACTION-AWARE integrity-receipt digests: the signed streaming
    * twin of the sub-manifest's COMMUTATIVE `sub_dig61` column (see
    * [[graft.operators.Curation.signedSubDigest]] and the tradeoff
    * note on `Curation.manifestUnits` — the order-dependent `sub_md5`
    * receipt cannot stream because it needs the member set; the
    * modular sum is exactly what can). Per signed doc event
    * ([[signedDocSchema]], `op` +1 ingest / -1 takedown) the (split,
    * sub, fp, n_tok, dig) unit derives ROW-LOCALLY in-stream, and the
    * live state per (split, sub) cell is three signed sums: doc
    * count, token count, digest mod 2^61−1.
    *
    * Twin contract (StreamingSpec): restricted to `n_docs > 0`, the
    * final cells equal the batch
    * [[graft.operators.Curation.subManifestFromUnits]] digest columns
    * over ingests ∖ takedowns; a cell folded to zero emits an
    * `n_docs=0` tombstone in complete/update mode — where the batch
    * retraction drops the row. Source discipline as for every
    * retraction stream: exactly-once, ingest-before-takedown.
    *
    * OVER-RETRACTION SURFACES AS `n_docs < 0`, not as an error: the
    * batch twin ([[graft.operators.Curation.signedSubDigest]]) raises
    * on a negative fold because it sees the whole ledger at once; a
    * firehose cannot, so a takedown without a matching ingest drives
    * the cell's signed sums negative and the corrupted cell is
    * EMITTED that way — its `sub_dig61` still lands in [0, 2^61−1)
    * and would pass a digest-shaped check, so consumers MUST alarm on
    * `n_docs < 0` (the StreamingSpec pins that a corrupted cell is
    * visible, never silently clamped or filtered).
    */
  def manifestDigestStreamSigned(events: DataFrame,
      subShards: Int = 4): DataFrame = {
    val b = Curation.hashBucket(col("doc_id"), 100)
    val fp = coalesce(TextAnalysis.fingerprint(col("text")), lit("null"))
    val nTok = coalesce(TextAnalysis.tokenCount(col("text")).cast("long"),
      lit(0L))
    val p = Curation.Dig61P
    events
      .select(col("op"),
        when(b < 80, "train").when(b < 90, "val").otherwise("test")
          .as("split"),
        Curation.hashBucket(col("doc_id"), subShards).as("sub"),
        (col("op") * Curation.unitDig(col("doc_id"), fp))
          .cast("decimal(38,0)").as("sdig"),
        (col("op") * nTok).as("stok"))
      .groupBy(col("split"), col("sub"))
      .agg(sum(col("op")).as("n_docs"),
        sum(col("stok")).cast("long").as("n_tok"),
        sum(col("sdig")).as("rawdig"))
      .select(col("split"), col("sub"),
        col("n_docs").cast("long").as("n_docs"), col("n_tok"),
        ((col("rawdig") % p + p) % p).cast("long").as("sub_dig61"))
  }

  /** Streaming count-min sketch: the running (row, col, cnt) cell
    * table over the document firehose — update mode emits the cells a
    * micro-batch touched with their new running sums. The CMS is THE
    * sketch built for this deployment (cellwise sums commute and
    * merge), so the streaming twin is a plain streaming aggregation:
    * state is the ≤ depth·width live cells, constant in corpus size —
    * no per-key eviction policy needed, ever.
    *
    * Twin contract (StreamingSpec): run over the static corpus and the
    * final cell values equal [[graft.operators.Sketches.cmsTable]].
    * One structural difference, documented: the batch side aggregates
    * the TYPE table first and expands ×depth on the vocabulary;
    * chained aggregations are unsupported in a streaming query, so
    * here the ×depth expansion rides the token stream itself — same
    * cells, same sums, more pre-aggregation rows (the map-side partial
    * agg still combines within each micro-batch before the shuffle).
    */
  def cmsCells(docs: DataFrame, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    val tok = docs
      .select(explode(split(TextAnalysis.normText(col("text")), " "))
        .as("token"))
      .where(length(col("token")) > 0)
    tok
      .select(col("token"),
        explode(array((0 until depth).map(lit(_)): _*)).as("row"))
      .select(col("row").cast("long").as("row"),
        graft.operators.Sketches.cmsCol(col("row"), col("token"), width)
          .as("col"))
      .groupBy(col("row"), col("col"))
      .agg(count(lit(1)).as("cnt"))
  }
}
