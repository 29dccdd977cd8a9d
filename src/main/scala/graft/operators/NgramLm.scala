package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.normText
import graft.operators.OrderedOut._

/** Bigram language-model perplexity scoring — the CCNet-style quality
  * gate a large-scale training-data pipeline runs alongside the NB
  * classifier and the heuristic (gopher/entropy) filters: train a
  * smoothed n-gram LM on a trusted reference slice, score every
  * candidate document by its average per-token negative
  * log-likelihood, and route the most-perplexed tail to review or
  * removal. (Reference framing: the same artifact-lifecycle contract
  * as the NB model — the reference engine's job-chaining discipline,
  * hkiang01/Airline-Dataset-Hadoop-Public README.md:231-249, applied
  * to a corpus-quality model.)
  *
  * Model: add-one (Laplace) smoothed bigram conditionals over the
  * reference corpus,
  *   p(w2 | w1) = (c12 + 1) / (c1 + V + 1)
  * with c12 the reference count of the bigram, c1 = Σ_w c(w1, w) the
  * count of w1 AS A CONTEXT (derived from the bigram table, so
  * c12 ≤ c1 by construction and p < 1 always), and V the number of
  * distinct next-token types (+1 of headroom for the unseen token,
  * mirroring the NB denominators). Unseen bigrams and unseen contexts
  * fall out of the same formula with the missing counts read as 0 —
  * no special cases, which is what makes the DuckDB oracle a pair of
  * left joins.
  *
  * Integer discipline (oracle parity): every log-probability is
  * floor(1e6 · ln p) — a micro-nat long, the NB classifier's exact
  * spelling — so document scores are integer sums and the average is
  * an integer `div` of two non-negative longs (identical truncation
  * in Spark and DuckDB). `avg_nll_micro` is ln(perplexity) · 1e6: a
  * doc at 8.0 avg-nll-micro-millions has perplexity e^8 ≈ 3000.
  *
  * Scale (100 TB): training is one row-local bigram derivation plus
  * one map-side-combined groupBy — the shuffle carries (bigram,
  * partial-count) pairs, never text. The count table is THE
  * incremental state: additive on delivery ([[bigramCountsUpdate]]),
  * signed on takedown ([[bigramCountsRetract]]), streamable (the
  * DocStreams twin), and the serve artifacts (context table +
  * constants) re-derive from it with vocab-sized work
  * ([[lmFromCounts]]). Scoring is two equi-joins against the count
  * tables — shuffle-partitioned by token, broadcast when the model is
  * small — followed by a per-doc aggregation; no collects anywhere,
  * and the one-row constants ship as a broadcast cross join exactly
  * like the NB consts.
  */
object NgramLm {

  private def $(c: String): Column = col(c)

  /** Array of (w1, w2) bigram structs over an ALREADY-SPLIT token
    * array — the row-local core, a pure Column expression so
    * [[bigramCounts]] and the LM streams run it over a firehose
    * unchanged (the SimHash/WindowHashes discipline). Callers bind the
    * tokenization to a column FIRST (`split(normText(text), " ")
    * .as("toks")` in one select, this in the next): inlining the
    * split into every element access re-evaluates it per token inside
    * Generate, where codegen subexpression elimination is not
    * guaranteed — binding makes one-split-per-row structural. Empty
    * array when the doc
    * has fewer than two tokens; normText collapses whitespace runs,
    * so adjacent tokens are non-empty by construction.
    */
  private[graft] def bigramsOfToks(toks: Column): Column =
    when(length(get(toks, lit(0))) > 0 && size(toks) >= 2,
      transform(sequence(lit(0), size(toks) - 2), i =>
        struct(get(toks, i).as("w1"), get(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  /** The normalized tokenization [[bigramsOfToks]] consumes. */
  private[graft] def toksOf(text: Column): Column =
    split(normText(text), " ")

  /** (doc_id, w1, w2) bigram OCCURRENCES (duplicates kept — each
    * occurrence scores) of the normalized whitespace tokenization:
    * toks bound in one projection, [[bigramsOfToks]] exploded in the
    * next, all inside whole-stage codegen.
    */
  private[operators] def bigrams(documents: DataFrame): DataFrame =
    documents.spread()
      .select($("doc_id"), toksOf($("text")).as("toks"))
      .select($("doc_id"), explode(bigramsOfToks($("toks"))).as("bg"))
      .select($("doc_id"), $("bg.w1").as("w1"), $("bg.w2").as("w2"))

  /** The LM's INCREMENTAL state: (w1, w2, c12) bigram counts over a
    * reference corpus. Additive both ways — [[bigramCountsUpdate]] /
    * [[bigramCountsRetract]] — which is the whole reason the state is
    * counts and not probabilities: probabilities don't fold,
    * their numerators and denominators do.
    */
  def bigramCounts(reference: DataFrame): DataFrame =
    bigrams(reference)
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c12"))

  /** Fold a new reference delivery into a persisted bigram-count
    * table — a full-outer keyed merge plus the delivery's own counts;
    * the accumulated reference corpus is never re-read. Folded ==
    * from-scratch exactly (q199 gates it with the batch SQL).
    */
  def bigramCountsUpdate(bi: DataFrame, delivery: DataFrame): DataFrame =
    bi.select("w1", "w2", "c12")
      .unionByName(bigramCounts(delivery))
      .groupBy("w1", "w2")
      .agg(sum($("c12")).as("c12"))

  /** TAKEDOWN of reference docs from the bigram-count state: subtract
    * the removed docs' own counts by keyed merge, drop zeroed rows,
    * and raise row-locally on a count driven negative OR on a removed
    * bigram the store never held (full outer — the
    * [[TextAnalysis.nbCountsRetract]] corruption discipline).
    * Retract == re-train on the survivors exactly (q200).
    */
  def bigramCountsRetract(bi: DataFrame, removed: DataFrame): DataFrame = {
    val r = bigramCounts(removed)
      .select($("w1"), $("w2"), $("c12").as("rc"))
    val guarded = when($("c12") >= 0, $("c12"))
      .otherwise(raise_error(concat(
        lit("LM retraction drove a bigram count negative (doc "),
        lit("retracted twice, or never indexed): ("), $("w1"),
        lit(", "), $("w2"), lit(")"))))
    bi.select("w1", "w2", "c12")
      .join(r, Seq("w1", "w2"), "full_outer")
      .select($("w1"), $("w2"),
        (coalesce($("c12"), lit(0L)) - coalesce($("rc"), lit(0L)))
          .as("c12"))
      .withColumn("c12", guarded)
      .filter($("c12") > 0)
  }

  /** Derive the SERVE artifacts from the count state with vocab-sized
    * work: the context table (w1, c1) — c1 = Σ_w2 c12, so c12 ≤ c1 by
    * construction — and the one-row constants (v = distinct
    * next-token types). The [[TextAnalysis.nbLmFromCounts]] contract:
    * persist the counts, re-derive these whenever a fresh model
    * should ship.
    */
  def lmFromCounts(bi: DataFrame): (DataFrame, DataFrame) = (
    bi.groupBy("w1").agg(sum($("c12")).as("c1")),
    bi.agg(count_distinct($("w2")).cast("long").as("v")))

  private[graft] def lnpMicro(num: Column, den: Column): Column =
    floor(lit(1000000.0) * log(num.cast("double") / den.cast("double")))
      .cast("long")

  /** Score documents off PERSISTED artifacts — the serve path: two
    * left equi-joins against the count/context tables (absent counts
    * read 0: the add-one formula handles unseen bigrams and unseen
    * contexts uniformly), the broadcast one-row constants, one
    * per-doc aggregation. Returns (doc_id, n_big, nll_micro,
    * avg_nll_micro) for every doc with ≥ 1 bigram: total and
    * per-bigram average negative log-likelihood in micro-nats, both
    * non-negative longs (p < 1 strictly, so every per-bigram term is
    * ≥ 1 micro-nat; `div` truncation is floor on non-negatives in
    * both engines).
    *
    * Degenerate case, deliberate: an EMPTY count table (no reference
    * corpus) yields v = 0 and p = 1 for every bigram — all scores
    * zero, identically in both engines (no NULL/error divergence, so
    * no raise guard is needed for oracle parity). An all-zero score
    * column is the signature to alarm on operationally; the ingest
    * path never hits it (the boot stage trains on a non-empty
    * trusted slice).
    */
  def lmScoreFrom(bi: DataFrame, uni: DataFrame, consts: DataFrame,
      documents: DataFrame): DataFrame =
    bigrams(documents)
      .join(bi.select($("w1"), $("w2"), $("c12")), Seq("w1", "w2"), "left")
      .join(uni.select($("w1"), $("c1")), Seq("w1"), "left")
      .crossJoin(broadcast(consts))
      .select($("doc_id"),
        (-lnpMicro(coalesce($("c12"), lit(0L)) + 1,
          coalesce($("c1"), lit(0L)) + $("v") + 1)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"), sum($("nll")).as("nll_micro"))
      .select($("doc_id"), $("n_big"), $("nll_micro"),
        expr("nll_micro div n_big").as("avg_nll_micro"))

  /** Train on `reference` and score `documents` in one call — the
    * standalone form ([[lmScoreFrom]] ∘ [[lmFromCounts]] ∘
    * [[bigramCounts]]); the ingest path persists the three artifacts
    * and calls [[lmScoreFrom]] directly.
    */
  def lmScore(reference: DataFrame, documents: DataFrame): DataFrame = {
    val bi = bigramCounts(reference)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (uni, consts) = lmFromCounts(bi)
    val out = lmScoreFrom(bi, uni, consts, documents)
      .localCheckpoint(true)
    bi.unpersist(false)
    out
  }

  /** Per-source perplexity gate (the serve-the-cut discipline applied
    * to the LM signal): keep the `keepPermille` LEAST-perplexed docs
    * per source under (avg_nll_micro asc, doc_id asc) — the integer
    * rank rule `rn·1000 ≤ keepPermille·n`, the composite gate's exact
    * arithmetic with the ordering flipped (low nll = good). Returns
    * (doc_id, source, avg_nll_micro, keep) for every scored doc
    * (≥ 1 bigram). The windowed TRAINING form; serving distills to
    * the K-row cut of [[lmThresholds]] + [[lmGateFrom]].
    */
  def lmGate(reference: DataFrame, documents: DataFrame,
      keepPermille: Int = 900): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byNll = Window.partitionBy($("source"))
      .orderBy($("avg_nll_micro").asc, $("doc_id").asc)
    val bySource = Window.partitionBy($("source"))
    scoredWithSource(reference, documents)
      .withColumn("rn", row_number().over(byNll).cast("long"))
      .withColumn("n", count(lit(1)).over(bySource))
      .select($("doc_id"), $("source"), $("avg_nll_micro"),
        ($("rn") * 1000 <= lit(keepPermille) * $("n")).as("keep"))
  }

  private def scoredWithSource(reference: DataFrame,
      documents: DataFrame): DataFrame =
    lmScore(reference, documents)
      .join(documents.select($("doc_id"), $("source")), Seq("doc_id"))
      .select("doc_id", "source", "avg_nll_micro")

  /** The gate's SERVE-TIME cut artifact: per source, the boundary of
    * [[lmGate]]'s rank rule — (source, thr_avg_nll_micro,
    * thr_doc_id), the LAST KEPT row under (avg_nll_micro asc, doc_id
    * asc). A doc is then kept iff `nll < thr OR (nll == thr AND
    * doc_id <= thr_doc_id)` — the exact rank-prefix predicate,
    * windowless. A source whose keep quota is zero emits NO row
    * (every doc drops). The [[graft.operators.Curation
    * .gateThresholds]] discipline for the perplexity signal: derive
    * once per corpus version (off the persisted score table — no
    * re-tokenization), serve every delivery by broadcast join.
    */
  def lmThresholds(reference: DataFrame, documents: DataFrame,
      keepPermille: Int = 900): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byNll = Window.partitionBy($("source"))
      .orderBy($("avg_nll_micro").asc, $("doc_id").asc)
    val bySource = Window.partitionBy($("source"))
    scoredWithSource(reference, documents)
      .withColumn("rn", row_number().over(byNll).cast("long"))
      .withColumn("n", count(lit(1)).over(bySource))
      .filter($("rn") * 1000 <= lit(keepPermille) * $("n"))
      .groupBy($("source"))
      .agg(max_by(struct($("avg_nll_micro"), $("doc_id")), $("rn"))
        .as("b"))
      .select($("source"), $("b.avg_nll_micro").as("thr_avg_nll_micro"),
        $("b.doc_id").as("thr_doc_id"))
  }

  /** [[lmGate]] SERVED from the persisted cut table + score table:
    * one broadcast join against the K-row thresholds, zero windows —
    * byte-identical to the windowed form on the corpus the cut was
    * derived from (q203 gates it with q202's SQL verbatim).
    */
  def lmGateFrom(thresholds: DataFrame, reference: DataFrame,
      documents: DataFrame): DataFrame =
    scoredWithSource(reference, documents)
      .join(broadcast(thresholds), Seq("source"), "left")
      .select($("doc_id"), $("source"), $("avg_nll_micro"),
        ($("thr_avg_nll_micro").isNotNull &&
          ($("avg_nll_micro") < $("thr_avg_nll_micro") ||
            ($("avg_nll_micro") === $("thr_avg_nll_micro") &&
              $("doc_id") <= $("thr_doc_id")))).as("keep"))

  /** The audit view a curation run actually reads: the `topK`
    * most-perplexed documents (highest average negative
    * log-likelihood first, doc_id tiebreak) with their source and
    * length — the review queue for the quality tail. Global top-k:
    * TakeOrderedAndProject, never a full sort.
    */
  def lmOutliers(reference: DataFrame, documents: DataFrame,
      topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // top-k FIRST (orderBy+limit → TakeOrderedAndProject, per-
    // partition heaps, no global sort); the ranking window then runs
    // over topK rows, not the corpus — the single-partition stage is
    // k-sized by construction
    val top = lmScore(reference, documents)
      .orderBy($("avg_nll_micro").desc, $("doc_id").asc)
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy($("avg_nll_micro").desc, $("doc_id").asc))
        .cast("long"))
    top.join(documents.select($("doc_id"), $("source"), $("n_chars")),
        Seq("doc_id"))
      .select("rank", "doc_id", "source", "n_chars", "n_big",
        "avg_nll_micro")
  }
}
