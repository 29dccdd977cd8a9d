package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.normText
import graft.operators.OrderedOut._

/** Token-window (substring-span) deduplication — the Lee et al. 2022
  * "Deduplicating Training Data Makes Language Models Better" family,
  * re-expressed Spark-first (builder brief; BASELINE.json north star).
  *
  * Where [[Dedup]] finds near-duplicate DOCUMENTS (minhash/simhash over
  * character shingles), this module finds repeated SPANS: any `k`-token
  * window whose exact text occurs more than once anywhere in the corpus
  * (including twice within one document). The per-document output is the
  * merged-interval coverage of such windows — the "duplicated token
  * fraction" a curation pipeline thresholds on, and the memorization
  * audit's top-repeated-spans report.
  *
  * Portability design: tokens are the whitespace split of
  * [[TextAnalysis.normText]]; the DuckDB oracles key windows on `md5`
  * of the space-joined window (identical hex in both engines). The
  * coverage/rewrite consumers and the window index read the O(n)
  * rolling-hash window source ([[windowOccurrencesRolling]]) only.
  * Their outputs carry no fingerprint (the fp only groups duplicated
  * hits), so the md5-keyed oracles gate them exactly, equal output
  * unless either hash family collides (~2^-64 per pair); any
  * fp-visible contract (q135) gates the fingerprint-agnostic (n_occ,
  * n_docs) histogram instead. The md5 source [[windowOccurrences]]
  * stays for the bloom family (its false-positive identity IS the md5
  * bit pattern) and [[duplicatedWindows]]; [[topDuplicatedSpans]]
  * keys on md5 too, as it carries the span text anyway.
  *
  * Scale design (100 TB):
  *  - window derivation is pure narrow expressions (split + sequence +
  *    transform + posexplode) — no shuffle until the fingerprint agg;
  *  - the duplicated-window set is a groupBy on the 32-char fingerprint
  *    with map-side partial counts; window text never shuffles on the
  *    coverage path (only the audit report carries one span string per
  *    fingerprint, min-combined map-side);
  *  - interval merging is a window function partitioned BY DOCUMENT
  *    (gaps-and-islands over a running max), so no per-source or global
  *    funnel — the largest window partition is one document's hits;
  *  - everything is linear in corpus tokens: occurrences explode to
  *    ~n_tokens rows/doc, the self-identifying fingerprint join is an
  *    equi-join, and no step is quadratic in documents or spans.
  */
object SubstringDedup {

  private def $(name: String): Column = col(name)

  /** All `k`-window fingerprints of one text as an array column —
    * empty when the document has fewer than `k` tokens. Pure
    * expression with no plan-shape helpers, so it runs unchanged in a
    * Structured Streaming plan ([[graft.streaming.DocStreams
    * .repeatedSpans]]).
    */
  def windowFpArray(text: Column, k: Int): Column = {
    val norm = normText(text)
    val toks = split(norm, " ")
    when(length(norm) > 0 && size(toks) >= k,
      transform(sequence(lit(1), size(toks) - (k - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(k))))))
      .otherwise(array().cast("array<string>"))
  }

  /** (doc_id, pos, fp) — one row per `k`-token window: `pos` is the
    * 1-based token index of the window start, `fp` the md5 of the
    * space-joined window text. Documents with fewer than `k` tokens
    * produce no rows. Pure narrow derivation (no shuffle).
    */
  def windowOccurrences(documents: DataFrame, k: Int = 8): DataFrame =
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .select($("doc_id"), split($("norm"), " ").as("toks"))
      .where(size($("toks")) >= k)
      .select($("doc_id"), posexplode(transform(
        sequence(lit(1), size($("toks")) - (k - 1)),
        i => md5(concat_ws(" ", slice($("toks"), i, lit(k))))))
        .as(Seq("pos0", "fp")))
      .select($("doc_id"), ($("pos0") + 1).as("pos"), $("fp"))

  /** The O(n) scale path of [[windowOccurrences]]: identical (doc_id,
    * pos) rows, but the fingerprint is the 64-bit rolling hash of
    * [[graft.plans.WindowHashesExpression]] instead of md5 of the
    * joined window — per-document cost drops from O(n·k) digested
    * bytes to O(n), and the (fp) shuffle keys shrink 32-char → 8-byte
    * (the dominant exchange of the whole span family). Same collision
    * budget as md5 (~2^-64 per distinct pair); SubstringDedupSpec pins
    * the duplicated-window sets equal on real data. Contract queries
    * stay on md5 (DuckDB replays that); deploy THIS at corpus scale.
    */
  def windowOccurrencesRolling(documents: DataFrame, k: Int = 8): DataFrame =
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .select($("doc_id"),
        posexplode(graft.plans.WindowHashesExpression
          .windowHashes(split($("norm"), " "), k)).as(Seq("pos0", "fp")))
      .select($("doc_id"), ($("pos0") + 1).as("pos"), $("fp"))

  /** Fingerprints of windows whose text repeats anywhere in the corpus
    * (total occurrences ≥ 2 — within-doc repeats count, matching the
    * Lee et al. rule of removing any span that appears more than once).
    * One fingerprint groupBy with map-side combine.
    */
  def duplicatedWindows(documents: DataFrame, k: Int = 8): DataFrame =
    windowOccurrences(documents, k)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_occ"), countDistinct($("doc_id")).as("n_docs"))
      .where($("n_occ") >= 2)

  /** [[duplicatedWindows]] on the rolling-hash path — the deploy-at-
    * scale variant (O(n) derivation, 8-byte shuffle keys). Driver
    * contract is rows-only (FNV-1a is not expressible in DuckDB); the
    * semantics are pinned by SubstringDedupSpec's equality with the
    * oracle-gated md5 path.
    */
  def duplicatedWindowsRolling(documents: DataFrame, k: Int = 8): DataFrame =
    windowOccurrencesRolling(documents, k)
      .groupBy("fp")
      .agg(count(lit(1)).as("n_occ"), countDistinct($("doc_id")).as("n_docs"))
      .where($("n_occ") >= 2)

  /** The (n_occ, n_docs) histogram of the rolling-path duplicated
    * windows — FINGERPRINT-AGNOSTIC, so although FNV-1a itself has no
    * DuckDB spelling, this q135 contract row is fully hash-gated
    * against the md5-CTE oracle: equal histograms ⇔ the two hash
    * families flagged the same windows (up to the shared 2^-64
    * collision budget). The report itself is the span-dedup sizing
    * read: how many spans repeat, how widely.
    */
  def dupWindowProfileRolling(documents: DataFrame, k: Int = 8): DataFrame =
    duplicatedWindowsRolling(documents, k)
      .groupBy($("n_occ"), $("n_docs"))
      .agg(count(lit(1)).as("n_windows"))

  /** Per-document duplicated-span coverage: (doc_id, n_tokens,
    * dup_tokens, dup_fraction) over documents with ≥ `k` tokens.
    * `dup_tokens` is the size of the UNION of all duplicated windows'
    * token intervals `[pos, pos+k-1]` — merged gaps-and-islands style
    * (running max of interval ends, partitioned per document), so
    * overlapping hits are not double-counted. `dup_fraction` =
    * dup_tokens / n_tokens; this is the column a curation pipeline
    * thresholds on (e.g. drop documents > 0.5 duplicated).
    */
  /** Merged duplicated-interval coverage per document from a window
    * table shaped like [[windowOccurrences]] output: (doc_id,
    * dup_tokens) for documents with ≥ 1 duplicated window. Factored
    * so composed pipelines ([[Curation.spanCleanCorpus]]) can feed a
    * persisted window table to this and the bloom leg at once.
    *
    * Corpus-wide occurrence counting is a whole-partition count window
    * over fp rather than groupBy + self-join: the occurrence stream
    * shuffles ONCE and filters in place, where the join form would
    * shuffle it twice (agg side + probe side) and recompute the
    * scan+explode lineage for both.
    */
  def coverageFromWindows(wins: DataFrame, k: Int): DataFrame =
    dupIntervals(wins, k)
      .groupBy("doc_id")
      .agg(sum($("end") - $("start") + 1).as("dup_tokens"))

  /** Merged duplicated-token intervals per document from a window
    * table shaped like [[windowOccurrences]] output: (doc_id, start,
    * end) with `[start, end]` the 1-based token ranges covered by ≥ 1
    * corpus-duplicated window — gaps-and-islands over a running max
    * of interval ends, partitioned per document, so overlapping hits
    * merge and the emitted ranges are disjoint and contiguous. The
    * common core of [[coverageFromWindows]] (which sums the range
    * sizes) and [[removeSpans]] (which cuts the ranges out).
    */
  def dupIntervals(wins: DataFrame, k: Int): DataFrame =
    mergeHits(
      wins.withColumn("n_occ", count(lit(1)).over(Window.partitionBy("fp")))
        .where($("n_occ") >= 2)
        .select($("doc_id"), $("pos")),
      k)

  /** Merged `[start, end]` token intervals from a (doc_id, pos) hit
    * table — the gaps-and-islands core shared by [[dupIntervals]]
    * (all duplicated hits) and [[removeSpansKeepOne]] (non-owner hits
    * only).
    */
  private def mergeHits(hits: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max($("pos") + (k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("is_start",
        when($("pos") > coalesce(prevMaxEnd, lit(Long.MinValue)), 1L)
          .otherwise(0L))
      .withColumn("island", sum($("is_start")).over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min($("pos")).as("start"), (max($("pos")) + (k - 1)).as("end"))
      .select($("doc_id"), $("start"), $("end"))
  }

  /** The REWRITE step of exact substring dedup (Lee et al. 2022 §3
    * actually cuts the repeated spans out of the corpus; [[dupSpanStats]]
    * only measures them): per document, remove every token covered by
    * a corpus-duplicated `k`-window and reassemble the survivors —
    * (doc_id, n_tokens, removed_tokens, clean_text). Documents whose
    * normalized text is empty are skipped; a fully-duplicated document
    * comes back with `clean_text = ''` (the curation step after this
    * drops length-0 docs).
    *
    * This is the CONSERVATIVE variant: every occurrence of a repeated
    * span is removed (deterministic and shard-order-free). The
    * keep-one-copy variant needs a global owner election per span
    * ([[Dedup.incrementalDedup]]'s min-key pattern) and triples the
    * shuffle for little curation benefit — Lee et al. remove all but
    * one occurrence chosen arbitrarily; arbitrary is exactly what a
    * reproducible pipeline can't have.
    *
    * Scale: the heavy stream (window fingerprints) shuffles twice
    * (occurrence count, per-doc islands) exactly like
    * [[dupSpanStats]]; the rewrite itself joins documents against the
    * MERGED interval arrays (rows ≤ hits/2 per doc, usually ~1) and
    * cuts tokens with pure array expressions (`zip_with` + `filter` +
    * `exists` — per-token cost is #intervals, inside codegen) — the
    * corpus text moves through ONE doc-keyed join and never explodes
    * to token rows.
    */
  def removeSpans(documents: DataFrame, k: Int = 8): DataFrame =
    rewriteByIntervals(documents,
      dupIntervals(windowOccurrencesRolling(documents, k), k))

  /** [[removeSpans]] with the Lee et al. keep-ONE-copy rule: per
    * repeated span, the globally first occurrence — min (doc_id, pos),
    * a deterministic owner election, where the paper keeps an
    * arbitrary one — survives; every other occurrence is cut. The
    * corpus keeps exactly one copy of each repeated span's text
    * instead of losing it entirely ([[removeSpans]] is the
    * conservative cut-all variant; this one preserves recall of the
    * span's content for training).
    *
    * An owner's tokens can still fall to a DIFFERENT span's non-owner
    * hit overlapping them — the standard interaction; ownership is
    * per-fingerprint, coverage is per-token.
    *
    * Scale: adds one row_number window over the hit stream partitioned
    * by fingerprint (hit-width rows) to [[removeSpans]]'s plan; the
    * election needs no extra join — rank 1 IS the owner.
    */
  def removeSpansKeepOne(documents: DataFrame, k: Int = 8): DataFrame = {
    val nonOwnerHits = windowOccurrencesRolling(documents, k)
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("fp")))
      .where($("n_occ") >= 2)
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy($("doc_id"), $("pos"))))
      .where($("rn") > 1)
      .select($("doc_id"), $("pos"))
    rewriteByIntervals(documents, mergeHits(nonOwnerHits, k))
  }

  private def rewriteByIntervals(documents: DataFrame,
      intervals: DataFrame): DataFrame = {
    val ivs = intervals
      .groupBy("doc_id")
      .agg(collect_list(struct($("start"), $("end"))).as("ivs"))
    val emptyIvs = array().cast("array<struct<start:int,end:int>>")
    val withIvs = documents.spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .join(ivs, Seq("doc_id"), "left")
      .select($("doc_id"), split($("norm"), " ").as("toks"),
        coalesce($("ivs"), emptyIvs).as("ivs"))
    val pairs = zip_with($("toks"), sequence(lit(1), size($("toks"))),
      (t, p) => struct(t.as("tok"), p.as("tpos")))
    val kept = filter(pairs, s => !exists($("ivs"),
      iv => s.getField("tpos") >= iv.getField("start") &&
        s.getField("tpos") <= iv.getField("end")))
    withIvs
      .select($("doc_id"), $("toks"), kept.as("kept"))
      .select($("doc_id"),
        size($("toks")).cast("long").as("n_tokens"),
        (size($("toks")) - size($("kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", transform($("kept"), x => x.getField("tok")))
          .as("clean_text"))
  }

  /** (fp, n_occ) corpus-wide window-occurrence counts — the PERSISTED
    * INDEX artifact of incremental span dedup: an ingest pipeline
    * never re-windows the whole corpus per delivery, it keeps this
    * fingerprint-count table and checks each batch against it
    * ([[incrementalSpanStats]]), then folds the batch in
    * ([[updatedWindowIndex]]) — [[Dedup.incrementalDedup]]'s
    * span-level sibling. Keyed by rolling fingerprints (8-byte index
    * keys at corpus scale), the family every probe and fold here
    * uses.
    */
  def windowIndex(documents: DataFrame, k: Int = 8): DataFrame =
    windowOccurrencesRolling(documents, k)
      .groupBy("fp").agg(count(lit(1)).as("n_occ"))

  /** [[dupSpanStats]] of a NEW batch against an accumulated
    * [[windowIndex]]: a batch window is duplicated when its total
    * occurrence count across index + batch reaches 2 (already known
    * to the corpus, or repeated within the delivery — dupSpanStats'
    * >= 2 duplicated-window rule applied at ingest; every occurrence
    * of a repeated span is flagged, with no keep-one-owner exemption
    * — that Lee et al. rewrite rule lives in
    * [[removeSpansKeepOne]]). Returns the batch's (doc_id, n_tokens,
    * dup_tokens, dup_fraction) without touching the indexed corpus:
    * per-delivery cost is batch windows + one equi-join against the
    * index, never a corpus re-scan.
    */
  def incrementalSpanStats(index: DataFrame, batch: DataFrame,
      k: Int = 8): DataFrame = {
    val hits = windowOccurrencesRolling(batch, k)
      .withColumn("n_batch", count(lit(1)).over(Window.partitionBy("fp")))
      .join(index.select($("fp"), $("n_occ").as("n_index")), Seq("fp"),
        "left")
      .filter(coalesce($("n_index"), lit(0L)) + $("n_batch") >= 2)
      .select($("doc_id"), $("pos"))
    val covered = mergeHits(hits, k)
      .groupBy("doc_id")
      .agg(sum($("end") - $("start") + 1).as("dup_tokens"))
    docTokenLengths(batch, k)
      .join(covered, Seq("doc_id"), "left")
      .select($("doc_id"), $("n_tokens"),
        coalesce($("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce($("dup_tokens"), lit(0L)).cast("double") /
          $("n_tokens").cast("double")).as("dup_fraction"))
  }

  /** Fold a processed batch into the window index — the maintenance
    * half of the incremental pair: summed counts per fingerprint, one
    * fingerprint-keyed aggregate over index ∪ batch windows.
    */
  def updatedWindowIndex(index: DataFrame, batch: DataFrame,
      k: Int = 8): DataFrame =
    index.unionByName(windowIndex(batch, k))
      .groupBy("fp").agg(sum($("n_occ")).as("n_occ"))

  /** Retract removed documents from the window index —
    * [[updatedWindowIndex]]'s inverse, the TAKEDOWN fold: occurrence
    * counts are additive, so subtracting the removed docs' own window
    * counts (and dropping fingerprints that reach zero) reproduces
    * the from-scratch index over the surviving corpus EXACTLY, with
    * only the removed docs ever windowed — the surviving corpus text
    * is never re-read (oracle-gated: probing against the retracted
    * index is hash-identical to probing against a fresh index of the
    * remaining docs). Exactly-once ownership is the caller's, but a
    * count driven negative (doc retracted twice / never indexed)
    * raises at execution rather than leaving a silently corrupt
    * index. Same bucketed-by-fp layout advice as [[windowIndex]]:
    * the subtraction joins on fp and aggregates bucket-local.
    */
  def retractedWindowIndex(index: DataFrame, removed: DataFrame,
      k: Int = 8): DataFrame =
    index
      .join(windowIndex(removed, k)
        .select($("fp"), $("n_occ").as("r_occ")), Seq("fp"), "full_outer")
      .select($("fp"),
        (coalesce($("n_occ"), lit(0L)) - coalesce($("r_occ"), lit(0L)))
          .as("n_occ"))
      .select($("fp"), when($("n_occ") >= 0, $("n_occ"))
        .otherwise(raise_error(concat(
          lit("window-index retraction drove a count negative "),
          lit("(doc retracted twice, or never indexed): fp="),
          $("fp").cast("string")))).as("n_occ"))
      .filter($("n_occ") > 0)

  /** (doc_id, n_tokens) of documents long enough to window (≥ k
    * tokens) — the denominator side of [[dupSpanStats]].
    */
  def docTokenLengths(documents: DataFrame, k: Int): DataFrame =
    documents
      .select($("doc_id"), normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .select($("doc_id"), size(split($("norm"), " ")).cast("long").as("n_tokens"))
      .where($("n_tokens") >= k)

  def dupSpanStats(documents: DataFrame, k: Int = 8): DataFrame = {
    val covered = coverageFromWindows(windowOccurrencesRolling(documents, k), k)
    val lens = docTokenLengths(documents, k)
    lens.join(covered, Seq("doc_id"), "left")
      .select($("doc_id"), $("n_tokens"),
        coalesce($("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce($("dup_tokens"), lit(0L)).cast("double") /
          $("n_tokens").cast("double")).as("dup_fraction"))
  }

  /** Per-source span-duplication profile — "which crawl is most
    * duplicated": per source, windowable docs, docs with any
    * duplicated span, token totals, and the corpus-level duplicated
    * token share `dup_token_share` = Σdup_tokens / Σn_tokens (integer
    * sums divided once — bit-identical across engines). The per-doc
    * stats aggregate to one row per source; only (doc_id, source) and
    * the counters shuffle.
    */
  def sourceSpanProfile(documents: DataFrame, k: Int = 8): DataFrame =
    dupSpanStats(documents, k)
      .join(documents.select($("doc_id"), $("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($("dup_tokens") > 0, 1L).otherwise(0L)).as("n_docs_with_dups"),
        sum($("n_tokens")).as("total_tokens"),
        sum($("dup_tokens")).as("total_dup_tokens"))
      .select($("source"), $("n_docs"), $("n_docs_with_dups"),
        $("total_tokens"), $("total_dup_tokens"),
        ($("total_dup_tokens").cast("double") /
          $("total_tokens").cast("double")).as("dup_token_share"))

  /** Memorization-audit report: the `topN` most-repeated `k`-token
    * spans with their occurrence and distinct-document counts, span
    * text included. Grouping is on the fingerprint (32 chars) with the
    * span text carried as a map-side-combined `min` — one string per
    * fingerprint per partition crosses the shuffle, never the raw
    * window stream. Deterministic selection: total order (n_occ DESC,
    * span ASC) via orderBy.limit → TakeOrderedAndProject (no global
    * sort).
    */
  def topDuplicatedSpans(documents: DataFrame, k: Int = 8,
                         topN: Int = 20): DataFrame =
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .select($("doc_id"), split($("norm"), " ").as("toks"))
      .where(size($("toks")) >= k)
      .select($("doc_id"), explode(transform(
        sequence(lit(1), size($("toks")) - (k - 1)),
        i => concat_ws(" ", slice($("toks"), i, lit(k))))).as("span"))
      .select($("doc_id"), $("span"), md5($("span")).as("fp"))
      .groupBy("fp")
      .agg(min($("span")).as("span"), count(lit(1)).as("n_occ"),
        countDistinct($("doc_id")).as("n_docs"))
      .where($("n_occ") >= 2)
      .select($("span"), $("n_occ"), $("n_docs"))
      .orderBy($("n_occ").desc, $("span"))
      .limit(topN)
}
