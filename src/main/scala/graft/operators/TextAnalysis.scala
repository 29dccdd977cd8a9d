package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.OrderedOut._

/** Text-analysis operators for LLM-training-data pipelines over the
  * `documents` table (BASELINE.json north star; builder brief).
  *
  * Everything is built from codegen'd `functions._` expressions — no
  * UDFs — so each operator is a single scan with no shuffle except the
  * final deterministic orderBy (dropped in production use).
  *
  * Determinism contract: all scores derive from INTEGER counts divided
  * at the end (double division of identical ints is bit-identical
  * across engines), so every query here is DuckDB-oracle-checkable.
  */
object TextAnalysis {

  private def $(name: String): Column = col(name)

  /** Whitespace-normalized, lowercased text: the canonical form used
    * by dedup, fingerprinting, and token stats.
    */
  def normText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Token count over the normalized form (whitespace tokenization —
    * the baseline tokenizer; a BPE-ish regex variant below).
    */
  def tokenCount(text: Column): Column = {
    val n = normText(text)
    when(length(n) === 0, 0).otherwise(size(split(n, " ")))
  }

  /** BPE-ish subword proxy: count of alphanumeric runs plus single
    * punctuation marks (the usual pre-tokenizer split classes).
    * RE2-compatible pattern → oracle-portable.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(normText(text), lit("[a-z0-9]+"), lit(0))) +
      punctCount(normText(text))

  /** Document fingerprint (content hash of the normalized form) —
    * the key for exact dedup.
    */
  def fingerprint(text: Column): Column = md5(normText(text))

  // ---------------------------------------------------------------
  // counts feeding the quality score — all integers
  // ---------------------------------------------------------------

  /** Count of chars in `text` matching regex char-class `cls` (via
    * length difference after deletion — portable to any SQL engine).
    */
  def classCount(text: Column, cls: String): Column =
    length(text) - length(regexp_replace(text, cls, ""))

  def punctCount(text: Column): Column = classCount(text, "[.,;:!?]")
  def alphaCount(text: Column): Column = classCount(text, "[A-Za-z]")
  def digitCount(text: Column): Column = classCount(text, "[0-9]")

  private val stopwords = Map(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "une"),
    "es" -> Seq("el", "los", "las", "una", "por"))

  /** Stopword hits for one language: how many of its marker words
    * appear in the normalized text (word-boundary via space padding).
    */
  def stopwordScore(text: Column, lang: String): Column = {
    val padded = concat(lit(" "), normText(text), lit(" "))
    stopwords(lang).map(w =>
      when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)
  }

  /** n-gram-heuristic language ID: CJK presence → zh; otherwise the
    * stopword-score argmax with fixed precedence en>de>fr>es; no hits
    * → "und". Deterministic CASE chain (oracle-portable).
    */
  def languageId(text: Column): Column = {
    val en = stopwordScore(text, "en"); val de = stopwordScore(text, "de")
    val fr = stopwordScore(text, "fr"); val es = stopwordScore(text, "es")
    val hasCjk = text.rlike("[一-鿿]")
    when(hasCjk, "zh")
      .when(greatest(en, de, fr, es) === 0, "und")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Quality score in [0,1]: length band + punctuation sanity +
    * alpha density + stopword evidence. All terms are integer-derived
    * ratios; weights sum to 1.
    */
  def qualityScore(text: Column): Column = {
    val n = normText(text)
    val len = length(n).cast("double")
    val lenScore = when(len >= 200 && len <= 5000, 1.0)
      .when(len >= 50, 0.5).otherwise(0.0)
    val punctRatio = punctCount(n).cast("double") / greatest(len, lit(1.0))
    val punctScore = when(punctRatio > 0.001 && punctRatio < 0.2, 1.0).otherwise(0.0)
    val alphaRatio = alphaCount(n).cast("double") / greatest(len, lit(1.0))
    val cjk = when(n.rlike("[一-鿿]"), 1.0).otherwise(0.0)
    val alphaScore = greatest(when(alphaRatio > 0.6, 1.0).otherwise(alphaRatio / 0.6), cjk)
    val stopScore = when(
      greatest(stopwordScore(n, "en"), stopwordScore(n, "de"),
        stopwordScore(n, "fr"), stopwordScore(n, "es")) >= 2 || cjk === 1.0,
      1.0).otherwise(0.0)
    lenScore * 0.25 + punctScore * 0.25 + alphaScore * 0.25 + stopScore * 0.25
  }

  // ---------------------------------------------------------------
  // whole-table transforms (the `queries` entries)
  // ---------------------------------------------------------------

  /** Per-document stats: tokens, chars, punct/alpha/digit counts,
    * average token length. One scan, no shuffle (orderBy is for the
    * oracle compare only).
    */
  def docStats(documents: DataFrame): DataFrame = {
    val n = normText($("text"))
    documents.spread().select(
      $("doc_id"),
      tokenCount($("text")).cast("long").as("n_tokens"),
      subwordCount($("text")).cast("long").as("n_subwords"),
      length(n).cast("long").as("n_chars_norm"),
      punctCount(n).cast("long").as("n_punct"),
      alphaCount(n).cast("long").as("n_alpha"),
      digitCount(n).cast("long").as("n_digit"),
      (length(regexp_replace(n, " ", "")).cast("double") /
        greatest(tokenCount($("text")), lit(1)).cast("double")).as("avg_token_len"))
  }

  /** Language-ID per document, with the dataset's label for eyeball
    * comparison.
    */
  def langId(documents: DataFrame): DataFrame =
    documents.spread().select(
      $("doc_id"),
      languageId($("text")).as("pred_lang"),
      $("lang").as("label_lang"))

  /** Language-ID EVALUATION against the corpus's gold labels: the
    * confusion matrix of [[langId]] — (label_lang, pred_lang, n_docs).
    * The eval loop a pipeline closes after touching the stopword
    * tables or thresholds: off-diagonal mass shows exactly which
    * language pairs the heuristic confuses (reading per-doc q22
    * output for that is corpus-sized; this is langs²-bounded).
    *
    * Scale: one scan; the aggregate partial-combines map-side and its
    * key space is langs² (tens of rows), so nothing text- or
    * corpus-proportional shuffles.
    */
  def langIdEval(documents: DataFrame): DataFrame =
    langId(documents)
      .groupBy($("label_lang"), $("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Per-source predicted-language mix — (source, pred_lang, n_docs,
    * share_micro) with share_micro = n_docs·1e6 div docs-in-source.
    * The report driving per-language sampling quotas in a curation
    * pass (language filters are per-SOURCE policy decisions: a 2%
    * non-English share in a crawl source means contamination; in a
    * curated multilingual source it means under-collection).
    *
    * Scale: (sources × langs)-bounded aggregate off one scan; the
    * per-source totals DERIVE from the counts (no second corpus
    * pass) and join back broadcast. Integer micro share — exact
    * cross-engine.
    */
  def sourceLangMix(documents: DataFrame): DataFrame = {
    val counts = documents.spread()
      .select($("source"), languageId($("text")).as("pred_lang"))
      .groupBy($("source"), $("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    // every doc gets exactly one prediction, so docs-per-source IS the
    // denominator — computed off a source-column-only scan (pruned),
    // not by replaying the language-ID scan under a re-aggregate
    val totals = documents.groupBy($("source"))
      .agg(count(lit(1)).cast("long").as("src_total"))
    counts.join(broadcast(totals), Seq("source"))
      .select($("source"), $("pred_lang"), $("n_docs"),
        expr("(n_docs * 1000000) div src_total").cast("long")
          .as("share_micro"))
  }

  /** Quality scores per document. */
  def quality(documents: DataFrame): DataFrame =
    documents.spread().select(
      $("doc_id"),
      qualityScore($("text")).as("quality"))

  /** Fingerprints per document (rolling content hash of the
    * normalized text).
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.spread().select(
      $("doc_id"),
      fingerprint($("text")).as("fp"))

  /** (doc_id, token) pairs of the normalized whitespace tokenization —
    * the exploded form feeding vocabulary and frequency scoring.
    */
  private[operators] def tokens(documents: DataFrame): DataFrame =
    documents.spread()
      .select($("doc_id"),
        explode(split(normText($("text")), " ")).as("token"))
      .filter(length($("token")) > 0)

  /** Corpus vocabulary: per token, total occurrences (`tf`) and
    * document frequency (`df`), tokens occurring < `minCount` times
    * dropped — the input a tokenizer/vocab-building step consumes.
    *
    * Scale: explode amplifies rows but both aggregates partial-combine
    * map-side on (token, doc_id) then (token); only the (token,
    * partial-count) pairs shuffle — never text. Vocabulary output is
    * heavy-tailed-small relative to the corpus (types, not tokens).
    */
  def vocabulary(documents: DataFrame, minCount: Long = 2): DataFrame =
    tokens(documents)
      .groupBy("token")
      .agg(count(lit(1)).as("tf"),
        count_distinct($("doc_id")).as("df"))
      .filter($("tf") >= minCount)

  /** Tokenizer-sizing curve: the top-`topK` token types by corpus
    * count, with each rank's exact cumulative share of all token
    * occurrences — the table read when choosing a vocabulary size
    * (where does coverage flatten?). Returns (rank, token, tf,
    * coverage_micro) with coverage_micro = cum·1e6 div total (exact
    * integer arithmetic; ties broken by token for a total order).
    *
    * Scale: the type table partial-aggregates map-side; the top-k is
    * a distributed TakeOrderedAndProject (never a global sort of the
    * vocabulary); only the k surviving rows enter the rank/cumsum
    * window, which is trivially single-partition at k rows. The
    * corpus total is a one-row broadcast.
    */
  def vocabCoverage(documents: DataFrame, topK: Int = 100): DataFrame = {
    val counts = tokens(documents)
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum($("tf")).cast("long").as("total"))
    val w = Window.orderBy($("tf").desc, $("token").asc)
    counts
      .orderBy($("tf").desc, $("token").asc).limit(topK)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum", sum($("tf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($("rank"), $("token"), $("tf"),
        expr("(cum * 1000000) div total").cast("long").as("coverage_micro"))
  }

  /** Word-frequency quality signal (unigram-LM proxy): per document,
    * the mean corpus frequency of its tokens —
    * `sum(tf(token)) / (n_tok_doc · total_corpus_tokens)` — higher =
    * built from more common words. The numerator and both denominator
    * factors are exact BIGINTs; ONE final double division keeps the
    * score bit-identical across engines.
    *
    * Scale: the doc side pre-aggregates to (doc_id, token, c) before
    * joining the vocabulary on token — document text never moves, and
    * the join keys shrink to distinct-tokens-per-doc. The global total
    * is a one-row broadcast.
    */
  def unigramLmScore(documents: DataFrame): DataFrame = {
    // the token stream feeds three consumers (per-doc counts, vocab,
    // total) — materialize the explode once instead of re-scanning
    // the corpus text three times (parquet intermediate at warehouse
    // scale, like Dedup's shingle index); the per-doc result is
    // checkpointed eagerly so the token cache can be dropped before
    // returning (no session-scoped cache accumulation)
    val toks = tokens(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum($("tf")).cast("long").as("total"))
    val result = toks.groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("c"))
      .join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum($("c")).cast("long").as("n_tok"),
        (sum($("c") * $("tf")).cast("double") /
          (sum($("c")) * first($("total"))).cast("double")).as("lm_score"))
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** Fixed-size overlapping character chunks of the normalized text —
    * the context-window split a training pipeline applies before
    * tokenization (`size`-char pieces every `stride` chars, so
    * consecutive chunks overlap by `size - stride`). Empty documents
    * still yield one (empty) chunk, so no document silently vanishes.
    *
    * Output: (doc_id, chunk_idx, off, chunk_len, chunk_fp) — the chunk
    * content travels as its md5 fingerprint, which is what chunk-level
    * dedup consumes; a real pipeline would carry the substring itself.
    *
    * Scale: pure narrow explode (offset sequence → substr) — no
    * shuffle at all; row amplification is len/stride, bounded by the
    * document length that already flowed through the scan.
    */
  def chunks(documents: DataFrame, size: Int = 256, stride: Int = 192): DataFrame = {
    require(stride > 0 && size >= stride, s"need 0 < stride <= size")
    documents.spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .select($("doc_id"), $("norm"),
        explode(expr(s"sequence(1, greatest(length(norm), 1), $stride)")).as("off"))
      .select(
        $("doc_id"),
        (($("off") - 1) / stride).cast("long").as("chunk_idx"),
        $("off").cast("long").as("off"),
        length($("norm").substr($("off"), lit(size))).cast("long").as("chunk_len"),
        md5($("norm").substr($("off"), lit(size))).as("chunk_fp"))
  }

  /** Passage-level dedup (the RefinedWeb/CCNet line-dedup stage, over
    * [[chunks]] instead of lines — the synthetic corpus has no
    * newlines): chunks shared by more than one (doc, offset) site
    * collapse to the lexicographically-smallest site. Returns only
    * fingerprints with 2+ copies — the removal list a curation pass
    * consumes (whole-doc dedup is q20; this catches boilerplate
    * repeated INSIDE otherwise-distinct documents).
    *
    * Scale: the chunk explode is narrow; the groupBy shuffles only
    * (32-char fp, ids) — never chunk text; min/count combine map-side.
    */
  def chunkDups(documents: DataFrame, size: Int = 256, stride: Int = 192): DataFrame =
    chunks(documents, size, stride)
      .groupBy($("chunk_fp"))
      .agg(min(struct($("doc_id"), $("off"))).as("keep"),
        count(lit(1)).as("n_copies"))
      .filter($("n_copies") >= 2)
      .select($("chunk_fp"), $("keep.doc_id").as("keep_doc"),
        $("keep.off").as("keep_off"), $("n_copies"))

  /** Top-`topK` TF-IDF terms per document. The idf is the
    * reciprocal-df variant `n_docs / df` (no logarithm): `ln` is not
    * correctly-rounded-guaranteed across libm implementations, so a
    * log-idf could differ in the last ULP between engines — the
    * reciprocal form is ONE double division of exact integers, which
    * is bit-identical everywhere (same contract as unigramLmScore).
    * Ranking ties break on token asc.
    *
    * Scale: the token stream is materialized once and feeds both the
    * per-doc counts and the df table; the join carries (doc_id, token,
    * count) triples — never text — and n_docs is a one-row broadcast.
    * The final window's doc_id exchange is the same partitioning the
    * per-doc aggregate already produced.
    */
  def tfidfTopTerms(documents: DataFrame, topK: Int = 5): DataFrame = {
    val toks = tokens(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perDoc = toks.groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("tf"))
    val dfTab = toks.groupBy("token").agg(count_distinct($("doc_id")).as("df"))
    val nDocs = documents.agg(count(lit(1)).cast("long").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($("doc_id")).orderBy($("score").desc, $("token").asc)
    // topK rows per doc — checkpoint the small result, drop the cache
    val result = perDoc.join(dfTab, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        ($("tf") * $("n_docs")).cast("double") / $("df").cast("double"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($("rn") <= topK)
      .select($("doc_id"), $("token"), $("tf"), $("df"), $("score"), $("rn"))
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** BM25 retrieval scoring of every document against a fixed term
    * set: score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|D|/avgdl)),
    * top-`topK` docs. The idf is the reciprocal-df form `n_docs/df`
    * (same `ln`-avoidance contract as [[tfidfTopTerms]]); every other
    * factor reduces to a FIXED chain of IEEE double ops over exact
    * integers, so scores hash-match the oracle bit-for-bit.
    *
    * Scale: per-doc (token, tf) aggregates join a broadcast of the
    * |terms| df rows and the one-row (n_docs, avgdl) corpus stats —
    * document text never shuffles; the final top-k is
    * TakeOrderedAndProject (per-partition heaps, no global sort).
    */
  def bm25(documents: DataFrame, terms: Seq[String], topK: Int = 50,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    val spark = documents.sparkSession
    import spark.implicits._
    val toks = tokens(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val termDf = terms.toDF("token")
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).cast("long").as("n_docs"),
      sum($("dl")).cast("long").as("total_len"))
    val dfTab = toks.join(broadcast(termDf), Seq("token"))
      .groupBy("token").agg(count_distinct($("doc_id")).as("df"))
    val perDoc = toks.join(broadcast(termDf), Seq("token"))
      .groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("tf"))
    val avgdl = $("total_len").cast("double") / $("n_docs").cast("double")
    val idf = $("n_docs").cast("double") / $("df").cast("double")
    val tfD = $("tf").cast("double")
    // identical literal op tree as the oracle's ((1.2+1.0), (1.0-0.75)
    // folded by each engine with the same IEEE adds)
    val tfNorm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * $("dl").cast("double") / avgdl))
    val scored = perDoc
      .join(broadcast(dfTab), Seq("token"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($("doc_id"), $("token"), (idf * tfNorm).as("term_score"))
    // a plain sum over per-term scores would be ORDER-SENSITIVE double
    // addition (engine-dependent); pivot to one column per term (each
    // a single value) and add left-to-right — fixed associativity,
    // mirrored in the oracle
    val termCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when($("token") === t, $("term_score"))).as(s"s$i") }
    val score = terms.indices
      .map(i => coalesce(col(s"s$i"), lit(0.0)))
      .reduceLeft(_ + _)
    // topK rows — checkpoint the tiny result, drop the token cache
    val result = scored.groupBy("doc_id").agg(termCols.head, termCols.tail: _*)
      .select($("doc_id"), score.as("score"))
      .orderBy($("score").desc, $("doc_id").asc)
      .limit(topK)
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  // RE2-compatible (and Java-regex-compatible) PII patterns: plain
  // character classes only — no lookarounds, no backrefs — so the
  // DuckDB oracle applies the identical pattern text.
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
  val UrlRe   = "https?://[a-z0-9./_-]+"

  /** PII scrub: count and redact email addresses and URLs. The
    * synthetic corpus contains neither, so the operator PLANTS
    * deterministic instances first (an email on every doc_id % 3 == 0,
    * a URL on every doc_id % 5 == 0) — the planting arithmetic is
    * mirrored in the oracle SQL, so the redaction itself is what the
    * hash compare exercises (planted-input pattern, like a07's dirty
    * rows). Output carries the redacted text as length + fingerprint.
    *
    * Scale: pure per-row regex chain — single scan, no shuffle.
    */
  def piiRedact(documents: DataFrame): DataFrame = {
    val planted = concat(
      normText($("text")),
      when($("doc_id") % 3 === 0,
        concat(lit(" contact user"), $("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when($("doc_id") % 5 === 0,
        concat(lit(" see https://example.org/d/"), $("doc_id").cast("string")))
        .otherwise(lit("")))
    val redacted = regexp_replace(
      regexp_replace(planted, EmailRe, "<EMAIL>"), UrlRe, "<URL>")
    documents.spread().select(
      $("doc_id"),
      size(regexp_extract_all(planted, lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(planted, lit(UrlRe), lit(0))).cast("long").as("n_urls"),
      length(redacted).cast("long").as("clean_len"),
      md5(redacted).as("clean_fp"))
  }

  /** Per-source PII governance report over [[piiRedact]]'s counts:
    * docs scanned, docs carrying any PII instance, total emails/URLs,
    * and the exact-integer PII-document rate — the table a data-
    * governance review (and a takedown-risk ranking of crawls) reads
    * before release. Scale: the per-doc leg is q57's zero-shuffle
    * regex scan; only (doc_id, counters, source) reach the
    * source-keyed aggregate.
    */
  def piiReport(documents: DataFrame): DataFrame =
    piiRedact(documents)
      .join(documents.select($("doc_id"), $("source")), Seq("doc_id"))
      .groupBy($("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when($("n_emails") + $("n_urls") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum($("n_emails")).as("total_emails"),
        sum($("n_urls")).as("total_urls"))
      .select($("source"), $("n_docs"), $("n_docs_with_pii"),
        $("total_emails"), $("total_urls"),
        expr("n_docs_with_pii * 1000000 div n_docs").cast("long")
          .as("pii_rate_micro"))

  /** (doc_id, bigram) pairs of adjacent normalized tokens — built by
    * a `transform` over the split array (narrow; no window, no
    * per-position shuffle). Documents with fewer than two tokens have
    * no bigrams and drop out (the oracle mirrors the same filter —
    * note Spark's `sequence(1, 0)` is DESCENDING, so the size guard
    * is load-bearing, not just an optimization).
    */
  private def bigrams(documents: DataFrame): DataFrame =
    documents.spread()
      .select($("doc_id"), split(normText($("text")), " ").as("toks"))
      .filter(size($("toks")) >= 2)
      .select($("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))

  /** Bigram-LM quality signal — the sequence-aware sibling of
    * [[unigramLmScore]]: per document, the mean corpus frequency of
    * its adjacent-token bigrams. Low scores mark documents whose word
    * ORDER is unusual even when their vocabulary is common (shuffled
    * or machine-mangled text). Same determinism contract: exact
    * BIGINT counts, one final double division.
    */
  def bigramLmScore(documents: DataFrame): DataFrame = {
    val bg = bigrams(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vocab = bg.groupBy("bigram").agg(count(lit(1)).as("tf"))
    val total = vocab.agg(sum($("tf")).cast("long").as("total"))
    // one row per doc — checkpoint the result, drop the bigram cache
    val result = bg.groupBy($("doc_id"), $("bigram")).agg(count(lit(1)).as("c"))
      .join(vocab, Seq("bigram"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(
        sum($("c")).cast("long").as("n_bigrams"),
        (sum($("c") * $("tf")).cast("double") /
          (sum($("c")) * first($("total"))).cast("double")).as("lm2_score"))
      .localCheckpoint(true)
    bg.unpersist(false)
    result
  }

  /** Top-token repetition stats (the Gopher-style repetition rule's
    * input): per document, the most frequent token (ties: token asc),
    * its count, the token total, and the repetition ratio
    * `top_c / n_tok`. A ratio near 1 marks degenerate repeated-token
    * documents a curation pass should drop.
    *
    * Scale: one shuffle on doc_id serves both the per-token counts'
    * ranking window and the total (same partitioning, no second
    * exchange); text never shuffles.
    */
  def repetition(documents: DataFrame): DataFrame = {
    val perTok = tokens(documents)
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy($("doc_id"))
    val w = byDoc.orderBy($("c").desc, $("token").asc)
    perTok
      .withColumn("rn", row_number().over(w))
      .withColumn("n_tok", sum($("c")).over(byDoc))
      .filter($("rn") === 1)
      .select($("doc_id"), $("token").as("top_token"),
        $("c").as("top_c"), $("n_tok").cast("long").as("n_tok"),
        ($("c").cast("double") / $("n_tok").cast("double")).as("rep_ratio"))
  }

  /** The fixed stopword list the Gopher-style rule counts against —
    * shared verbatim with the oracle SQL (TrainingEntries q77).
    */
  private[operators] val ruleStopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "in", "and", "is", "be", "that")

  /** Gopher-style rule-based quality FLAGS (Rae et al. 2021,
    * "Scaling Language Models" — public; rule family, thresholds
    * adapted to this corpus): unlike [[qualityScore]]'s blended
    * score, each rule is a separate boolean a curation pass can audit
    * ("why was this doc dropped?"), plus the conjunction `keep`.
    *
    * Rules (per document, over the normalized whitespace tokens):
    *  - `ok_word_count`: 50 <= n_words <= 100000
    *  - `ok_word_len`:   mean word length in [3, 10]
    *  - `ok_uniq`:       >= 30% of tokens are distinct (degenerate
    *                     repetition guard — the doc-level sibling of
    *                     [[repetition]]'s top-token ratio)
    *  - `ok_stop`:       >= 2 hits from a fixed 10-word stopword list
    *                     (real-prose evidence)
    *
    * Determinism: ratios are emitted as HALF_UP-rounded integer
    * micro-units (`round(1e6·a/b)` of exact BIGINTs — one correctly
    * rounded double division each), never free doubles.
    *
    * Scale: one scan, zero shuffle — every rule is an array
    * expression (`filter`/`aggregate`/`array_distinct`) over the
    * per-row token array inside whole-stage codegen; the token array
    * never explodes into a shuffle.
    */
  def gopherRules(documents: DataFrame): DataFrame =
    gopherDerived(gopherRaw(documents, Nil), Nil)

  // the Gopher rule constants — ONE definition feeding the frame
  // pipeline (gopherDerived), the single-Column form (gopherKeepCol),
  // and by mirror the oracle SQL literals
  private val GopherMinWords = 50L
  private val GopherMaxWords = 100000L
  private val GopherMinMeanLenMicro = 3000000L
  private val GopherMaxMeanLenMicro = 10000000L
  private val GopherMinUniqFracMicro = 300000L
  private val GopherMinStopCount = 2L

  /** The [[gopherRules]] verdict as ONE row-local Column — for
    * streaming plans that must carry the verdict THROUGH a tokenize
    * (a streaming aggregate cannot join a second derivative of the
    * same stream, so the flag rides the token rows as a grouping
    * column instead). Shares the rule constants with the frame
    * pipeline; spec-pinned equal to `gopherRules(…)("keep")`.
    */
  def gopherKeepCol(text: Column): Column = {
    val toks = filter(split(normText(text), " "), t => length(t) > 0)
    val nWords = size(toks).cast("long")
    val totalLen = aggregate(toks, lit(0L), (a, t) => a + length(t))
    val nUniq = size(array_distinct(toks)).cast("long")
    val stopCount = size(filter(toks, t => t.isInCollection(ruleStopwords)))
      .cast("long")
    val meanLen = when(nWords === 0, 0L)
      .otherwise(round(lit(1e6) * totalLen / nWords).cast("long"))
    val uniqFrac = when(nWords === 0, 0L)
      .otherwise(round(lit(1e6) * nUniq / nWords).cast("long"))
    nWords >= GopherMinWords && nWords <= GopherMaxWords &&
      meanLen >= GopherMinMeanLenMicro && meanLen <= GopherMaxMeanLenMicro &&
      uniqFrac >= GopherMinUniqFracMicro && stopCount >= GopherMinStopCount
  }

  /** (doc_id, n_words, total_len, n_uniq, stop_count) raw rule
    * counters plus `carry`-through per-row columns — the one-scan
    * stage [[gopherRules]] and [[ruleSignals]] share.
    */
  private def gopherRaw(documents: DataFrame,
      carry: Seq[Column]): DataFrame =
    documents.spread()
      .withColumn("toks",
        filter(split(normText($("text")), " "), t => length(t) > 0))
      .select(Seq(
        $("doc_id"),
        size($("toks")).cast("long").as("n_words"),
        aggregate($("toks"), lit(0L), (a, t) => a + length(t)).as("total_len"),
        size(array_distinct($("toks"))).cast("long").as("n_uniq"),
        size(filter($("toks"), t => t.isInCollection(ruleStopwords)))
          .cast("long").as("stop_count")) ++ carry: _*)

  /** The micro-unit ratios + per-rule flags + `keep` over
    * [[gopherRaw]]'s counters; `carryNames` columns pass through.
    */
  private def gopherDerived(raw: DataFrame,
      carryNames: Seq[String]): DataFrame =
    raw
      .select(Seq(
        $("doc_id"), $("n_words"),
        when($("n_words") === 0, 0L).otherwise(
          round(lit(1e6) * $("total_len") / $("n_words")).cast("long"))
          .as("mean_word_len_micro"),
        when($("n_words") === 0, 0L).otherwise(
          round(lit(1e6) * $("n_uniq") / $("n_words")).cast("long"))
          .as("uniq_frac_micro"),
        $("stop_count")) ++ carryNames.map(n => $(n)): _*)
      .withColumn("ok_word_count",
        $("n_words") >= GopherMinWords && $("n_words") <= GopherMaxWords)
      .withColumn("ok_word_len",
        $("mean_word_len_micro") >= GopherMinMeanLenMicro &&
          $("mean_word_len_micro") <= GopherMaxMeanLenMicro)
      .withColumn("ok_uniq", $("uniq_frac_micro") >= GopherMinUniqFracMicro)
      .withColumn("ok_stop", $("stop_count") >= GopherMinStopCount)
      .withColumn("keep",
        $("ok_word_count") && $("ok_word_len") && $("ok_uniq") && $("ok_stop"))

  /** ONE-SCAN fusion of the per-row absolute quality signals — the
    * [[gopherRules]] verdict, the [[charEntropy]] milli-bits, and the
    * `source` label: all three are row-local expressions, so the
    * composite gate ([[graft.operators.Curation.compositeGate]]) pays
    * a single corpus scan for them instead of three scans joined on
    * doc_id (the NB scorer keeps its own train + score passes).
    * Returns (doc_id, source, ok_gopher, entropy_milli); semantics
    * are exactly gopherRules' `keep` and charEntropy's
    * `entropy_milli` (shared derivation, spec-pinned equal).
    */
  def ruleSignals(documents: DataFrame): DataFrame = {
    import graft.plans.CharEntropyExpression.charEntropyMilli
    gopherDerived(
      gopherRaw(documents, Seq($("source"),
        charEntropyMilli(normText($("text"))).as("entropy_milli"))),
      Seq("source", "entropy_milli"))
      .select($("doc_id"), $("source"), $("keep").as("ok_gopher"),
        $("entropy_milli"))
  }

  /** Per-document Shannon character entropy (milli-bits) — the
    * compression-proxy signal that catches both degenerate boilerplate
    * (entropy near 0) and random/encoded noise (entropy near
    * log2(alphabet)). Computed by the custom codegen'd
    * [[graft.plans.CharEntropyExpression]]: per-row histogram, ONE
    * corpus scan, zero shuffle — the composed alternative (char
    * explode → two groupBys) would shuffle every character in the
    * corpus. See the expression's Scaladoc for the integer-milli-term
    * determinism contract the oracle mirrors.
    */
  def charEntropy(documents: DataFrame): DataFrame = {
    import graft.plans.CharEntropyExpression.charEntropyMilli
    val n = normText($("text"))
    documents.spread().select(
      $("doc_id"),
      length(n).cast("long").as("n_cp"),
      charEntropyMilli(n).as("entropy_milli"))
  }

  /** Corpus-level PMI collocations: the `topK` adjacent-token pairs
    * most over-represented vs their unigram frequencies —
    * `pmi = ln( (c_ab · N_tok²) / (N_bg · tf_a · tf_b) )`, bigrams
    * with fewer than `minCount` occurrences dropped. The classic
    * collocation-mining signal (Church & Hanks 1990, public) a
    * pipeline uses to build phrase vocabularies and spot templated
    * text (top PMI pairs that cover many docs = boilerplate phrases).
    *
    * Determinism: all counts are exact BIGINTs; the ratio is ONE
    * fixed-order double expression and `ln` + HALF_UP micro rounding
    * happen once per surviving pair; ordering ties break on
    * (w1, w2) asc — a total order.
    *
    * Scale: token and bigram counts partial-aggregate map-side (only
    * (type, partial-count) pairs shuffle — types, not tokens); the
    * unigram vocabulary joins in twice BROADCAST (vocab is
    * heavy-tailed-small); totals are one-row broadcasts; the final
    * top-k is a TakeOrderedAndProject heap, never a global sort.
    */
  def pmiPairs(documents: DataFrame, minCount: Long = 5,
      topK: Int = 50): DataFrame = {
    // uni and bg each fan out (tf1/tf2/total; pair table/total) —
    // materialize BEFORE the fan-out (the q51 cache-race lesson,
    // PLANS.md) so the corpus-token aggregation runs exactly once.
    // Both are type-level tables (vocab-sized), cheap to checkpoint.
    val uni = tokens(documents).groupBy("token")
      .agg(count(lit(1)).as("tf")).localCheckpoint(true)
    val nTok = uni.agg(sum($("tf")).cast("long").as("n_tok"))
    val bg = bigrams(documents).groupBy("bigram")
      .agg(count(lit(1)).as("c_ab")).localCheckpoint(true)
    val nBg = bg.agg(sum($("c_ab")).cast("long").as("n_bg"))
    bg
      .filter($("c_ab") >= minCount)
      .select(split($("bigram"), " ").getItem(0).as("w1"),
        split($("bigram"), " ").getItem(1).as("w2"), $("c_ab"))
      .join(broadcast(uni.select($("token").as("w1"), $("tf").as("tf1"))), Seq("w1"))
      .join(broadcast(uni.select($("token").as("w2"), $("tf").as("tf2"))), Seq("w2"))
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBg))
      .select($("w1"), $("w2"), $("c_ab").cast("long").as("c_ab"),
        round(lit(1e6) * log(
          $("c_ab").cast("double") * $("n_tok") * $("n_tok") /
            ($("n_bg").cast("double") * $("tf1") * $("tf2"))))
          .cast("long").as("pmi_micro"))
      .orderBy($("pmi_micro").desc, $("w1").asc, $("w2").asc)
      .limit(topK)
  }

  /** Inverted-index build: per token type, document frequency, total
    * term frequency, and a fingerprint of the full ascending posting
    * list — the retrieval-serving artifact behind [[bm25]] (which
    * scores on the fly; a serving stack materializes THIS once and
    * probes it per query).
    *
    * The contract row carries `postings_fp` = md5 of the
    * comma-joined sorted doc_ids rather than the array itself: the
    * list content is hash-pinned cross-engine without betting the
    * gate on array-type hashing parity. At warehouse scale the
    * posting lists would be written as a token-bucketed TABLE
    * (token, doc_id) — exactly the `td` aggregate below, which is
    * the real index; the per-token array is only collected here to
    * fingerprint it, and a stopword-class token's list should be
    * df-capped the way [[Dedup.shingleOccurrences]] caps buckets.
    *
    * Scale: one token-stream pass, both aggregates partial-combine
    * map-side on (token, doc_id) then (token); only integer pairs
    * shuffle.
    */
  def invertedIndex(documents: DataFrame): DataFrame =
    tokens(documents)
      .groupBy($("token"), $("doc_id"))
      .agg(count(lit(1)).as("tf_d"))
      .groupBy($("token"))
      .agg(count(lit(1)).cast("long").as("df"),
        sum($("tf_d")).cast("long").as("tf"),
        md5(concat_ws(",",
          transform(sort_array(collect_list($("doc_id"))),
            x => x.cast("string")))).as("postings_fp"))

  /** BM25 IMPACT INDEX: the per-(token, doc) score contribution for
    * EVERY vocabulary token — ts_micro = floor(1e6 · idf · tfNorm),
    * the quantity [[bm25Batch]] computes per query term. A term's
    * contribution is query-INDEPENDENT, so a serving stack
    * materializes this table once (the Lucene-style impact-ordered
    * posting shape) and any query's score is a pure
    * join-and-integer-sum over it — no corpus access at query time.
    * [[graft.streaming.DocStreams.bm25ScoreStream]] serves a query
    * FIREHOSE off exactly this artifact.
    *
    * Scale: one token pass; (token, doc) aggregates partial-combine;
    * df/stat tables broadcast. Output rows = distinct (doc, token)
    * pairs — the inverted index with scores, written token-bucketed
    * at warehouse scale.
    */
  def bm25TermTable(documents: DataFrame, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = tokens(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).cast("long").as("n_docs"),
      sum($("dl")).cast("long").as("total_len"))
    val dfTab = toks.groupBy("token").agg(count_distinct($("doc_id")).as("df"))
    val perDoc = toks.groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("tf"))
    val avgdl = $("total_len").cast("double") / $("n_docs").cast("double")
    val idf = $("n_docs").cast("double") / $("df").cast("double")
    val tfD = $("tf").cast("double")
    val tfNorm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * $("dl").cast("double") / avgdl))
    val result = perDoc
      .join(dfTab, Seq("token"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($("token"), $("doc_id"),
        floor((idf * tfNorm) * lit(1000000.0)).cast("long").as("ts_micro"))
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** BATCH BM25: score a whole TABLE of queries — (query_id, token)
    * rows — against the corpus in one pass, top-`topK` documents per
    * query. [[bm25]] serves one ad-hoc query; a retrieval deployment
    * scores thousands per batch, and re-scanning the corpus per query
    * is the anti-pattern this exists to kill.
    *
    * Determinism across a VARIABLE term set: q62's fixed-associativity
    * pivot can't generalize (one column per term needs the terms at
    * plan time), so each per-term score — the q62 double chain,
    * bit-identical — is floored to integer MICRO units and the
    * per-(query, doc) total is an exact integer sum: order-free,
    * engine-free. The micro floor costs ≤ 1e-6 absolute score
    * resolution (documented semantic difference from q62's raw-double
    * variant).
    *
    * Scale: ONE corpus token pass feeds document lengths and the
    * (token, tf) aggregates; the query-term table (|terms| rows) and
    * df table broadcast; per-query ranking is a window over candidate
    * docs only (docs containing ≥ 1 term of that query).
    */
  def bm25Batch(documents: DataFrame, queries: DataFrame, topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = tokens(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val qterms = queries.select($("query_id"), $("token")).distinct()
    val termList = qterms.select($("token")).distinct()
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).cast("long").as("n_docs"),
      sum($("dl")).cast("long").as("total_len"))
    val dfTab = toks.join(broadcast(termList), Seq("token"))
      .groupBy("token").agg(count_distinct($("doc_id")).as("df"))
    val perDoc = toks.join(broadcast(termList), Seq("token"))
      .groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("tf"))
    val avgdl = $("total_len").cast("double") / $("n_docs").cast("double")
    val idf = $("n_docs").cast("double") / $("df").cast("double")
    val tfD = $("tf").cast("double")
    val tfNorm = tfD * lit(k1 + 1.0) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * $("dl").cast("double") / avgdl))
    val byQuery = Window.partitionBy($("query_id"))
      .orderBy($("score_micro").desc, $("doc_id").asc)
    val result = perDoc
      .join(broadcast(dfTab), Seq("token"))
      .join(docLen, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select($("doc_id"), $("token"),
        floor((idf * tfNorm) * lit(1000000.0)).cast("long").as("ts_micro"))
      .join(broadcast(qterms), Seq("token"))
      .groupBy($("query_id"), $("doc_id"))
      .agg(sum($("ts_micro")).as("score_micro"))
      .withColumn("rn", row_number().over(byQuery).cast("long"))
      .where($("rn") <= topK)
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** Held-out cross-entropy under the TRAIN-split unigram LM — the
    * LM-metric twin of [[oovReport]]: per eval document (md5 buckets
    * 8-9), the mean negative log-probability of its tokens under the
    * add-1-smoothed train LM (buckets 0-7), in exact-integer
    * micro-nats. High ce = the eval distribution has drifted from
    * training (or the doc is noise); THE standard domain-shift gauge
    * in LM terms. Unseen tokens get the reserved smoothing mass
    * 1/(T+V+1).
    *
    * Determinism: ln is floored to micro-nats ONCE PER TOKEN TYPE
    * (the [[graft.operators.Curation.sourceKlDrift]] fixed-order
    * discipline), then everything is integer multiply/sum/divide —
    * no order-sensitive float accumulation.
    *
    * Scale: train side is one type-table aggregate; the LM is
    * vocabulary-sized and joins the eval (doc, token) counts on the
    * token key; one-row stats broadcast.
    */
  def crossEntropy(documents: DataFrame): DataFrame = {
    val bucket = Curation.hashBucket($("doc_id"), 10)
    val vocab = tokens(documents.filter(bucket <= 7))
      .groupBy($("token")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = vocab.agg(sum($("tf")).cast("long").as("T"),
      count(lit(1)).cast("long").as("V"))
    val lm = vocab.crossJoin(broadcast(stats))
      .select($("token"),
        floor(lit(1000000.0) * log(($("tf") + 1).cast("double") /
          ($("T") + $("V") + 1).cast("double"))).cast("long").as("lnp_micro"))
    val evalCounts = tokens(documents.filter(bucket >= 8))
      .groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("c"))
    val oovLnp = floor(lit(1000000.0) * log(lit(1.0) /
      ($("T") + $("V") + 1).cast("double"))).cast("long")
    val result = evalCounts
      .join(lm, Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .select($("doc_id"), $("c"),
        coalesce($("lnp_micro"), oovLnp).as("lnp"),
        when($("lnp_micro").isNull, $("c")).otherwise(0L).as("oovc"))
      .groupBy($("doc_id"))
      .agg(sum($("c")).cast("long").as("n_tok"),
        sum($("oovc")).cast("long").as("n_oov"),
        (-sum($("c") * $("lnp"))).cast("long").as("nll_micro"))
      .select($("doc_id"), $("n_tok"), $("n_oov"),
        expr("nll_micro div n_tok").cast("long").as("ce_micro"))
      .localCheckpoint(true)
    vocab.unpersist(false)
    result
  }

  /** Conjunctive search, RANKED: documents containing every query
    * term ([[searchAnd]]'s AND semantics), ordered by their BM25
    * impact sum ([[bm25TermTable]]'s artifact) — boolean retrieval
    * and relevance ranking in one index probe, the standard serving
    * composition. Scale: the term filter prunes the impact index at
    * the scan; |terms|·df rows aggregate; top-k is
    * TakeOrderedAndProject.
    */
  def rankedSearchAnd(documents: DataFrame, terms: Seq[String],
      topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    bm25TermTable(documents)
      .filter($("token").isin(terms: _*))
      .groupBy($("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum($("ts_micro")).as("score_micro"))
      .filter($("n_hit") === terms.size)
      .select($("doc_id"), $("score_micro"))
      .orderBy($("score_micro").desc, $("doc_id").asc)
      .limit(topK)
  }

  /** Out-of-vocabulary report: each held-out document's token count,
    * OOV count, and exact-integer OOV rate (micro) against the
    * vocabulary of the TRAINING split — the read before shipping a
    * tokenizer/vocab (does the eval distribution fall off the vocab?)
    * and the drift alarm when re-run on a new crawl. Split is the
    * md5-bucket rule (buckets 0-7 train, 8-9 eval — [[Curation
    * .hashSplit]]'s content-stable discipline, so membership never
    * depends on shard order).
    *
    * Scale: both token streams partial-aggregate/filter before any
    * join; the vocabulary is type-level (heavy-tailed-small) and the
    * probe is a left join on the token key.
    */
  def oovReport(documents: DataFrame, minCount: Long = 1): DataFrame = {
    val bucket = Curation.hashBucket($("doc_id"), 10)
    val vocab = tokens(documents.filter(bucket <= 7))
      .groupBy($("token")).agg(count(lit(1)).as("tf"))
      .filter($("tf") >= minCount)
      .select($("token"), lit(1L).as("in_vocab"))
    tokens(documents.filter(bucket >= 8))
      .join(vocab, Seq("token"), "left")
      .groupBy($("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tok"),
        sum(when($("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select($("doc_id"), $("n_tok"), $("n_oov"),
        expr("n_oov * 1000000 div n_tok").cast("long").as("oov_micro"))
  }

  /** Shared trainer+scorer for the Naive Bayes classifier family:
    * `labeled` carries (`cls` 1L/0L, `text`); every doc in `toScore`
    * with at least one normalized token gets (doc_id, n_tok,
    * llr_micro, pred_pos). Add-1 smoothing over ONE shared vocabulary
    * V (all token types in labeled text), so a token unseen in one
    * class gets that class's reserved 1/(T_c+V+1) mass and a
    * score-time OOV token contributes the constant oov1-oov0.
    *
    * Determinism: the [[crossEntropy]] discipline — ln floored to
    * micro-nats once per (token TYPE, class), priors floored once,
    * then integer multiply/sum only. Ties (llr == 0) predict 0.
    */
  private def nbScored(labeled: DataFrame, toScore: DataFrame): DataFrame = {
    val vt = nbTypeCounts(labeled)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lm, consts) = nbLmConsts(vt, nbDocCounts(labeled))
    val result = nbScoreFrom(lm, consts, toScore).localCheckpoint(true)
    vt.unpersist(false)
    result
  }

  /** One-row labeled doc counts (n1, n0); zeros, not NULLs, on an
    * empty slice (an all-unlabeled delivery must fold as +0).
    */
  private def nbDocCounts(labeled: DataFrame): DataFrame =
    labeled.agg(
      coalesce(sum(when($("cls") === 1L, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n1"),
      coalesce(sum(when($("cls") === 0L, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n0"))

  /** Per-token-type class counts (token, tf1, tf0) over a labeled
    * slice (`cls` 1L/0L precomputed) — one map-side-combined
    * aggregate; only (token, partial-count) pairs shuffle. A single
    * aggregation, so it also runs over `readStream`: on a labeled
    * firehose in complete/update mode the running state IS the
    * [[nbCountsUpdate]] fold, vocabulary-sized, and a serve model
    * derives from it via [[nbLmFromCounts]] at any cadence.
    */
  def nbTypeCounts(labeled: DataFrame): DataFrame =
    labeled.spread()
      .select($("cls"), explode(split(normText($("text")), " ")).as("token"))
      .filter(length($("token")) > 0)
      .groupBy($("token"))
      .agg(sum(when($("cls") === 1L, 1L).otherwise(0L)).as("tf1"),
        sum(when($("cls") === 0L, 1L).otherwise(0L)).as("tf0"))

  private def lnpMicro(num: Column, den: Column): Column =
    floor(lit(1000000.0) * log(num.cast("double") / den.cast("double")))
      .cast("long")

  /** The LM table (token, lnp1, lnp0) and one-row constants (oov1,
    * oov0, prior_diff) from the type counts + the one-row labeled
    * doc counts.
    */
  private def nbLmConsts(vt: DataFrame,
      docCounts: DataFrame): (DataFrame, DataFrame) = {
    val stats = vt.agg(sum($("tf1")).cast("long").as("T1"),
      sum($("tf0")).cast("long").as("T0"),
      count(lit(1)).cast("long").as("V"))
    // fail LOUDLY on an empty training class: Spark's log(0) is NULL
    // (not an error), which would otherwise silently NULL llr_micro
    // and read as "everything predicted negative" — and the DuckDB
    // oracle errors on ln(0), so the engines would diverge in failure
    // mode instead of flagging rows
    val priorDiff = when($("n1") > 0 && $("n0") > 0,
      lnpMicro($("n1"), $("n1") + $("n0")) -
        lnpMicro($("n0"), $("n1") + $("n0")))
      .otherwise(raise_error(concat(
        lit("NB classifier: empty training class (n1="),
        $("n1").cast("string"), lit(", n0="), $("n0").cast("string"),
        lit(")"))))
    val consts = stats.crossJoin(docCounts).select(
      lnpMicro(lit(1), $("T1") + $("V") + 1).as("oov1"),
      lnpMicro(lit(1), $("T0") + $("V") + 1).as("oov0"),
      priorDiff.as("prior_diff"))
    val lm = vt.crossJoin(broadcast(stats)).select($("token"),
      lnpMicro($("tf1") + 1, $("T1") + $("V") + 1).as("lnp1"),
      lnpMicro($("tf0") + 1, $("T0") + $("V") + 1).as("lnp0"))
    (lm, consts)
  }

  /** Train the NB classifier ONCE and return its two serve-time
    * artifacts — the vocabulary-sized LM table (token, lnp1, lnp0)
    * and the one-row constants (oov1, oov0, prior_diff). Persist
    * both and every future delivery is scored by [[nbScoreFrom]] (in
    * batch or over `readStream`) without touching the training
    * corpus again: the [[bm25TermTable]] / IVF-index artifact
    * discipline, applied to quality filtering at ingest. Both outputs
    * are materialized eagerly (vocab-sized and one row — cheap).
    */
  def nbModel(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): (DataFrame, DataFrame) = {
    val labeled = withSourceClass(documents, posSources, negSources)
    val vt = nbTypeCounts(labeled)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lm, consts) = nbLmConsts(vt, nbDocCounts(labeled))
    val lmOut = lm.localCheckpoint(true)
    val constsOut = consts.localCheckpoint(true)
    vt.unpersist(false)
    (lmOut, constsOut)
  }

  /** The NB classifier's INCREMENTAL artifacts: the per-token class
    * counts (token, tf1, tf0) and the one-row labeled doc counts
    * (n1, n0). Counts are additive, so a new labeled delivery folds
    * into a persisted count table via [[nbCountsUpdate]] WITHOUT
    * re-tokenizing the accumulated corpus — [[graft.operators
    * .SubstringDedup.updatedWindowIndex]]'s ingest discipline applied
    * to the quality model. [[nbLmFromCounts]] derives the serve
    * artifacts whenever a fresh model should ship. Both outputs are
    * materialized eagerly (vocab-sized and one row).
    */
  def nbCounts(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): (DataFrame, DataFrame) = {
    val labeled = withSourceClass(documents, posSources, negSources)
    (nbTypeCounts(labeled).localCheckpoint(true),
      nbDocCounts(labeled).localCheckpoint(true))
  }

  /** Fold a new delivery's labeled counts into the accumulated
    * (vt, docCounts) artifacts — a full-outer count merge on the
    * token key plus a two-row sum. The accumulated CORPUS is never
    * re-read: the fold shuffles only the vocab-sized count tables and
    * the delivery's own token stream. Folded == from-scratch exactly
    * (spec-pinned), so incremental and batch training interchange.
    */
  def nbCountsUpdate(vt: DataFrame, docCounts: DataFrame,
      delivery: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): (DataFrame, DataFrame) = {
    val (dvt, ddc) = nbCounts(delivery, posSources, negSources)
    val foldedVt = vt.select($("token"), $("tf1"), $("tf0"))
      .unionByName(dvt)
      .groupBy($("token"))
      .agg(sum($("tf1")).as("tf1"), sum($("tf0")).as("tf0"))
      .localCheckpoint(true)
    val foldedDc = docCounts.unionByName(ddc)
      .agg(sum($("n1")).cast("long").as("n1"),
        sum($("n0")).cast("long").as("n0"))
      .localCheckpoint(true)
    (foldedVt, foldedDc)
  }

  /** Retract removed labeled documents from the accumulated
    * (vt, docCounts) artifacts — [[nbCountsUpdate]]'s inverse, the
    * TAKEDOWN half of incremental training: counts are additive, so
    * they fold DOWN as exactly as they fold up, and a compliance
    * removal never re-tokenizes the surviving corpus — only the
    * removed docs tokenize, then vocab-sized merges. Tokens whose
    * counts reach (0, 0) leave the table (from-scratch over the
    * remaining corpus has no such rows), so retracted == re-trained
    * bit-for-bit (spec-pinned, oracle-gated by the batch SQL over the
    * remaining slice).
    *
    * Exactly-once ownership is the caller's, symmetric with the
    * update fold — but over-retraction cannot pass silently: any
    * count that would go negative (a doc retracted twice, or one
    * never indexed) raises at execution, because a negative count is
    * unrecoverable corruption while the update twin's replay merely
    * double-counts.
    */
  def nbCountsRetract(vt: DataFrame, docCounts: DataFrame,
      removed: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): (DataFrame, DataFrame) = {
    val (rvt, rdc) = nbCounts(removed, posSources, negSources)
    def guarded(c: Column, what: String): Column =
      when(c >= 0, c).otherwise(raise_error(concat(
        lit(s"NB retraction drove $what negative (doc retracted "),
        lit("twice, or never indexed): "), c.cast("string"))))
    // full outer: a removed-doc token ABSENT from the store is the
    // same corruption as a negative count (0 - r < 0 raises)
    val foldedVt = vt.select($("token"), $("tf1"), $("tf0"))
      .join(rvt.select($("token"), $("tf1").as("rtf1"),
        $("tf0").as("rtf0")), Seq("token"), "full_outer")
      .select($("token"),
        guarded(coalesce($("tf1"), lit(0L)) -
          coalesce($("rtf1"), lit(0L)), "tf1").as("tf1"),
        guarded(coalesce($("tf0"), lit(0L)) -
          coalesce($("rtf0"), lit(0L)), "tf0").as("tf0"))
      .filter($("tf1") + $("tf0") > 0)
      .localCheckpoint(true)
    // coalesce: a removal batch with no labeled docs retracts nothing
    // from the doc counts (sum over empty is NULL, not 0)
    val foldedDc = docCounts.crossJoin(
        rdc.select($("n1").as("rn1"), $("n0").as("rn0")))
      .select(
        guarded($("n1") - coalesce($("rn1"), lit(0L)), "n1")
          .cast("long").as("n1"),
        guarded($("n0") - coalesce($("rn0"), lit(0L)), "n0")
          .cast("long").as("n0"))
      .localCheckpoint(true)
    (foldedVt, foldedDc)
  }

  /** Derive the serve-time artifacts ([[nbScoreFrom]]'s inputs) from
    * the incremental count artifacts — vocab-sized work only.
    */
  def nbLmFromCounts(vt: DataFrame,
      docCounts: DataFrame): (DataFrame, DataFrame) = {
    val (lm, consts) = nbLmConsts(vt, docCounts)
    (lm.localCheckpoint(true), consts.localCheckpoint(true))
  }

  /** Score `toScore` against a trained NB model (the artifacts of
    * [[nbModel]], fresh or read back from parquet) — per scorable doc
    * (doc_id, n_tok, llr_micro, pred_pos), identical to
    * [[nbClassifierScores]] run end-to-end (spec-pinned). The LM is
    * vocabulary-sized (heavy-tailed-small next to the corpus) and
    * joins the token stream on the token key — AQE broadcasts it
    * when it fits; corpus text never shuffles either way. Each token
    * occurrence enters [[nbScoreFromProfiles]] as a count-1 profile
    * row: the one per-doc aggregation is the only one, so the same
    * scorer runs over `readStream` (complete/update mode) and a live
    * crawl is quality-scored without re-touching the training corpus.
    */
  def nbScoreFrom(lm: DataFrame, consts: DataFrame,
      toScore: DataFrame): DataFrame =
    nbScoreFromProfiles(lm, consts, tokens(toScore).withColumn("c", lit(1L)))

  /** Per-doc TOKEN PROFILES — (doc_id, token, c) counts of the
    * normalized tokenization: the persistable NARROW PROJECTION that
    * decouples NB scoring from document text. Tokenization (regex
    * normalize + split over full text) is paid ONCE per doc at ingest;
    * any later model version re-scores by joining this table against
    * its LM ([[nbScoreFromProfiles]]) — the recalibration-cadence
    * stage stops re-reading corpus text (ADVICE round-13). The store
    * is doc-keyed and row-local, so it folds by appending a
    * delivery's profiles and retracts by doc_id anti-join, both
    * asserted fold==from-scratch in IngestDemo.
    *
    * Scale: one text scan, map-side-combined (doc, token) aggregate;
    * the table is corpus-token-TYPE-sized per doc (far under the
    * exploded token stream the scorer would otherwise shuffle).
    */
  def tokenProfiles(documents: DataFrame): DataFrame =
    tokens(documents)
      .groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("c"))

  /** [[nbScoreFrom]] over PRECOMPUTED token profiles
    * ([[tokenProfiles]] shape) — no text access at all: one
    * vocabulary-sized LM join + a per-doc fold. The cal_gate_thr
    * recalibration path and any model-version backfill run this form
    * (spec-pinned equal to the text path).
    */
  def nbScoreFromProfiles(lm: DataFrame, consts: DataFrame,
      profiles: DataFrame): DataFrame =
    profiles
      .join(lm, Seq("token"), "left")
      .crossJoin(broadcast(consts))
      .select($("doc_id"), $("c"),
        (coalesce($("lnp1"), $("oov1")) -
          coalesce($("lnp0"), $("oov0"))).as("dl"))
      .groupBy($("doc_id"))
      .agg(sum($("c")).cast("long").as("n_tok"),
        sum($("c") * $("dl")).cast("long").as("tok_llr"))
      .crossJoin(broadcast(consts))
      .select($("doc_id"), $("n_tok"),
        ($("tok_llr") + $("prior_diff")).as("llr_micro"))
      .select($("doc_id"), $("n_tok"), $("llr_micro"),
        when($("llr_micro") > 0, 1L).otherwise(0L).as("pred_pos"))

  /** Adds the 1L/0L `cls` label from source membership. */
  private def withSourceClass(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): DataFrame = {
    require(posSources.nonEmpty && negSources.nonEmpty,
      "need at least one source per class")
    require(posSources.intersect(negSources).isEmpty,
      s"sources in both classes: ${posSources.intersect(negSources)}")
    documents
      .filter($("source").isin((posSources ++ negSources): _*))
      .withColumn("cls",
        when($("source").isin(posSources: _*), 1L).otherwise(0L))
  }

  /** Source-supervised quality classifier: multinomial Naive Bayes
    * with add-1 smoothing trained on documents whose `source` is in
    * `posSources` (class 1) vs `negSources` (class 0), then EVERY
    * document scored with its log-likelihood ratio — the CCNet /
    * LLaMA-style "reference corpus" filter (train wiki-vs-crawl, keep
    * what scores wiki-like), relationally. Per scorable doc: token
    * count, `llr_micro` (class-1 minus class-0 log-posterior in
    * micro-nats, priors included), and the 1/0 `pred_pos` decision.
    * Docs with zero tokens after normalization carry no term evidence
    * and are omitted (the same contract as [[crossEntropy]]).
    *
    * Both classes must be non-empty in the corpus (an empty class
    * would put ln(0) in the prior).
    *
    * Scale: training is one type-level aggregate of the labeled slice
    * (map-side combined, shuffles only (token, partial-count) pairs);
    * the LM is vocabulary-sized and BROADCAST-joins the (doc, token,
    * count) stream — corpus text never shuffles. Totals and priors
    * are one-row broadcasts.
    */
  def nbClassifierScores(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): DataFrame =
    nbScored(withSourceClass(documents, posSources, negSources), documents)

  /** Held-out evaluation of [[nbClassifierScores]]: train on the
    * labeled docs in md5 buckets 0-7, predict buckets 8-9, and report
    * the 2×2 confusion matrix (actual `cls`, `pred_pos`, `n_docs`) —
    * the accuracy read you take BEFORE trusting the filter on the
    * unlabeled corpus. Split is [[graft.operators.Curation
    * .hashSplit]]'s content-stable bucket rule, so membership never
    * depends on shard order.
    */
  def nbClassifierEval(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String]): DataFrame = {
    val bucket = Curation.hashBucket($("doc_id"), 10)
    val labeled = withSourceClass(documents, posSources, negSources)
    nbScored(labeled.filter(bucket <= 7), labeled.filter(bucket >= 8))
      .join(labeled.select($("doc_id"), $("cls")), Seq("doc_id"))
      .groupBy($("cls"), $("pred_pos"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  /** Reliability table (calibration curve) for the NB quality
    * classifier: held-out labeled docs (md5 buckets 8-9, never seen
    * by the bucket-0-7 training) are scored, bucketed into
    * fixed-width llr_micro bins, and each bin reports how often its
    * docs were ACTUALLY positive-source — the read that tells a
    * pipeline whether the scores can be trusted as weights/sampling
    * probabilities rather than just a ranking (a calibrated
    * classifier shows pos_rate rising with the bin). Returns (bin,
    * llr_lo_micro, n_docs, n_pos, pos_rate_micro), all exact
    * integers.
    *
    * The bin is floor(llr/binWidth) computed through double — llr is
    * SIGNED, and Spark's `div` truncates toward zero where DuckDB's
    * `//` floors, so the explicit double floor (exact below 2^53) is
    * the one cross-engine spelling.
    *
    * Scale: the held-out sliver is the only thing scored (the
    * [[nbClassifierEval]] discipline); the report is
    * (range/binWidth)-bounded rows off one doc-keyed aggregate.
    */
  def nbReliability(documents: DataFrame, posSources: Seq[String],
      negSources: Seq[String], binWidthMicro: Long = 200000L): DataFrame = {
    require(binWidthMicro > 0, s"binWidthMicro=$binWidthMicro must be > 0")
    val bucket = Curation.hashBucket($("doc_id"), 10)
    val labeled = withSourceClass(documents, posSources, negSources)
    nbScored(labeled.filter(bucket <= 7), labeled.filter(bucket >= 8))
      .join(labeled.select($("doc_id"), $("cls")), Seq("doc_id"))
      .withColumn("bin",
        floor($("llr_micro").cast("double") / lit(binWidthMicro.toDouble))
          .cast("long"))
      .groupBy($("bin"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($("cls")).cast("long").as("n_pos"))
      .select($("bin"), ($("bin") * binWidthMicro).as("llr_lo_micro"),
        $("n_docs"), $("n_pos"),
        expr("n_pos * 1000000 div n_docs").cast("long").as("pos_rate_micro"))
  }

  /** Conjunctive (AND) boolean retrieval over the inverted index:
    * documents containing EVERY query term — posting-list
    * intersection as a count-matching aggregate (a doc survives iff
    * it appears in all |terms| lists). The boolean companion of
    * [[bm25]]'s ranked retrieval.
    *
    * Scale: the term filter prunes the token stream at the scan
    * (predicate pushdown on the index table's token key at serving
    * time); what shuffles is (doc_id, token) for matching terms only
    * — |terms| · df rows, never the corpus.
    */
  def searchAnd(documents: DataFrame, terms: Seq[String]): DataFrame =
    tokens(documents)
      .filter($("token").isin(terms: _*))
      .select($("token"), $("doc_id")).distinct()
      .groupBy($("doc_id"))
      .agg(count(lit(1)).as("n_hit"))
      .filter($("n_hit") === terms.size)
      .select($("doc_id"))
}
