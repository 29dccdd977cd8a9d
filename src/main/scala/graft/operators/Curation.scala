package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.OrderedOut._

/** Corpus-curation operators for training-data pipelines (builder
  * brief): deterministic dataset splits, per-source quota sampling,
  * stratified sampling, and benchmark decontamination. These are the
  * selection/partitioning steps that sit between dedup ([[Dedup]]) and
  * the tokenizer in a real LLM data pipeline.
  *
  * Determinism contract: all "random" choices derive from md5 of a
  * stable key — seedless, identical hex in Spark and DuckDB — so every
  * operator here is hash-gated against the oracle like the rest of the
  * library (no `rand()`, whose per-task seeding is neither stable
  * across retries nor portable across engines).
  *
  * Scale design (100 TB):
  *  - [[hashSplit]] and [[stratifiedSample]] are single-scan narrow
  *    maps (+ one partial-aggregated groupBy for the sample counts) —
  *    no shuffle of row data, no coordination, stable under
  *    re-execution and late-arriving shards (a doc's split never
  *    depends on what else is in the corpus);
  *  - [[sourceCap]] shuffles only (doc_id, source) pairs — never the
  *    text — and the per-source window sort is bounded by the largest
  *    source's row count; for pathologically dominant sources,
  *    pre-filtering by an md5-threshold guess of the cutoff bounds the
  *    window input to ~k rows per source before ranking;
  *  - [[decontaminate]] reuses the inverted shingle index machinery
  *    from [[Dedup]] (document-frequency cut bounds bucket sizes); the
  *    eval side of the join is DISTINCT shingles of the held-out set —
  *    for a real benchmark suite that is millions of shingles at most,
  *    i.e. broadcastable, making the whole check a map-side semi-join
  *    against a 100 TB training corpus.
  */
object Curation {

  private def $(name: String): Column = col(name)

  /** OLAP rollup over the corpus dimensions: doc counts at every
    * prefix level of (source, lang) — per (source, lang), per source,
    * and grand total — with `grouping_id` disambiguating real NULL
    * dimension values from rollup-level NULLs. One aggregation; Spark
    * expands the grouping sets without re-scanning.
    */
  def corpusRollup(documents: DataFrame): DataFrame =
    documents.rollup($("source"), $("lang"))
      .agg(count(lit(1)).as("n_docs"), grouping_id().cast("long").as("gid"))

  /** Sketch-based corpus profile — the single-pass 100 TB alternative
    * to the exact reports ([[lengthQuantiles]], distinct counts):
    * per source, document count, HLL++ approximate distinct
    * fingerprints (`approx_count_distinct`, relative sd `rsd`), total
    * tokens, and approximate token-length percentiles
    * (`percentile_approx`, a mergeable quantile sketch).
    *
    * Scale: ONE scan, one partial-aggregated shuffle of constant-size
    * sketch state per (source × partition) — no sort, no second pass,
    * no per-doc rows on the wire. Sketches are engine-specific, so
    * this entry is rows-only-gated (no DuckDB hash twin — the exact
    * twins q20/q52 cover the semantics); PipelineOpsSpec bounds the
    * approximation error against the exact operators instead.
    *
    * The three percentiles are projected to scalar columns (one
    * quantile sketch evaluated at three points, then `element_at`) —
    * a flat, driver-comparable report row, no ARRAY cells.
    */
  def approxProfile(documents: DataFrame, rsd: Double = 0.05): DataFrame =
    documents.spread()
      .select($("source"),
        TextAnalysis.tokenCount($("text")).cast("long").as("n_tok"),
        TextAnalysis.fingerprint($("text")).as("fp"))
      .groupBy($("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct($("fp"), rsd).as("n_distinct_approx"),
        sum($("n_tok")).as("n_tokens"),
        percentile_approx($("n_tok"),
          array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("tok_pcts"))
      .select($("source"), $("n_docs"), $("n_distinct_approx"), $("n_tokens"),
        element_at($("tok_pcts"), 1).as("p50_tok"),
        element_at($("tok_pcts"), 2).as("p90_tok"),
        element_at($("tok_pcts"), 3).as("p99_tok"))

  /** Exact per-source token-length quantiles — the corpus length
    * report a curation pass reads before choosing length filters. For
    * each source and each percentile p in `pcts`, the value at rank
    * ceil(p·n/100) of the sorted per-doc token counts (the classic
    * order statistic, integer-exact in both engines — Spark's
    * `percentile` interpolates and DuckDB's `quantile_cont` differs in
    * formula, so neither is oracle-portable).
    *
    * Scale: run-length encoded — docs aggregate to (source, n_tok,
    * count) FIRST, so the ranking window scans distinct lengths per
    * source (thousands) instead of rows (billions); the cumulative sum
    * then locates each rank inside a run. At 100 TB the heavy shuffle
    * carries only (source, n_tok) partial counts. (`approx_percentile`
    * is the single-pass alternative when exactness isn't required.)
    */
  def lengthQuantiles(documents: DataFrame,
      pcts: Seq[Int] = Seq(25, 50, 75, 90)): DataFrame = {
    val runs = documents.spread()
      .select($("source"), TextAnalysis.tokenCount($("text")).cast("long").as("n_tok"))
      .groupBy($("source"), $("n_tok")).agg(count(lit(1)).as("c"))
    val bySrc = Window.partitionBy($("source"))
    val cum = Window.partitionBy($("source")).orderBy($("n_tok").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    runs
      .withColumn("cum", sum($("c")).over(cum))
      .withColumn("n_docs", sum($("c")).over(bySrc))
      .select($("source"), $("n_tok"), $("c"), $("cum"), $("n_docs"),
        explode(array(pcts.map(lit(_)): _*)).as("pct"))
      // rank of the p-th percentile: rk = ceil(pct*n/100), landing in
      // this run iff cum-c < rk <= cum (pure integer arithmetic)
      .withColumn("rk", expr("(pct * n_docs + 99) div 100"))
      .filter($("rk") > $("cum") - $("c") && $("rk") <= $("cum"))
      .select($("source"), $("pct").cast("long").as("pct"),
        $("n_tok").as("value"), $("n_docs"))
  }

  /** Uniform deterministic bucket in [0, mod): the first `hexChars`
    * hex chars of md5(key) as an integer, mod `mod`. 8 hex chars =
    * 32 bits, far above any practical modulus; the same literal
    * arithmetic is mirrored in the DuckDB oracles.
    */
  def hashBucket(key: Column, mod: Int, hexChars: Int = 8): Column =
    conv(substring(md5(key.cast("string")), 1, hexChars), 16, 10)
      .cast("long") % mod

  /** Deterministic train/val/test split by content-stable key hash:
    * (key, bucket, split) with train = bucket < trainPct, val = next
    * valPct buckets, test = the rest. A document's assignment is a
    * pure function of its key — shard-order-independent, stable across
    * reruns and engine versions, and exactly reproducible in the
    * oracle. Single narrow scan; no shuffle.
    */
  def hashSplit(df: DataFrame, keyCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "split percentages exceed 100")
    df.spread()
      .select($(keyCol), hashBucket($(keyCol), 100).as("bucket"))
      .select($(keyCol), $("bucket"),
        when($("bucket") < trainPct, "train")
          .when($("bucket") < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Deterministic epoch shuffle + loader-shard assignment — the step
    * between packing and the data loader: for `epoch`, every document
    * gets a pseudo-random but fully reproducible ORDER KEY
    * (md5("epoch:key")) and a loader shard (first 8 hex chars mod
    * `nShards`); `pos` is the 1-based rank WITHIN the shard under
    * (hash, key) — the shard-local order a distributed loader
    * actually consumes. Different epochs decorrelate the order (the
    * hash reshuffles everything); the same epoch replays bit-for-bit
    * across engines, reruns, and shard layouts — the property that
    * makes a training run resumable and auditable, where a
    * `rand()`-based shuffle is neither.
    *
    * Scale: one narrow projection, then ONE hash exchange on `shard`
    * for the rank window — the largest partition is one shard, so
    * size `nShards` at or above the cluster's parallelism (a loader
    * fleet's shard count already is). No global sort, no funnel.
    */
  def epochShuffle(df: DataFrame, epoch: Int, nShards: Int = 8,
      keyCol: String = "doc_id"): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards must be >= 1")
    val w = Window.partitionBy($("shard"))
      .orderBy($("h").asc, $(keyCol).asc)
    df.spread()
      .select($(keyCol),
        md5(concat_ws(":", lit(epoch), $(keyCol).cast("string"))).as("h"))
      .select($(keyCol), $("h"),
        (conv(substring($("h"), 1, 8), 16, 10).cast("long") % nShards)
          .as("shard"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($(keyCol), $("shard"), $("pos"))
  }

  /** Per-source quota sampling: keep at most `k` documents per source,
    * chosen by md5 order of doc_id (a deterministic uniform sample,
    * not "first k in file order" — file order correlates with crawl
    * time). Returns (doc_id, source, rn), rn = 1..k within source.
    *
    * Only (doc_id, source) pairs shuffle — the selection result is
    * joined back to the text downstream, so 100 TB of document bodies
    * never move. No `spread()`: the window's own hash exchange on
    * `source` is the first thing that happens to the scan output.
    */
  def sourceCap(documents: DataFrame, k: Int = 64): DataFrame = {
    val w = Window.partitionBy($("source"))
      .orderBy(md5($("doc_id").cast("string")).asc, $("doc_id").asc)
    documents
      .select($("doc_id"), $("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($("rn") <= k)
  }

  /** Stratified sampling report: per language stratum, total docs and
    * how many an md5-permille filter at rate `permille`/1000 selects.
    * The sampled-set membership is `hashBucket(doc_id, 1000) <
    * permille` — apply the same predicate to materialize the sample
    * itself. One scan, partial-aggregated groupBy on the (tiny) lang
    * key; the shuffle carries one row per (partition, lang).
    */
  def stratifiedSample(documents: DataFrame, permille: Int = 200): DataFrame =
    documents
      .select($("lang"),
        when(hashBucket($("doc_id"), 1000) < permille, 1)
          .otherwise(0).as("sampled"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum($("sampled")).cast("long").as("n_sampled"))

  /** Uniform source rebalancing ("source mix"): downsample every
    * over-represented source to at most the equal share
    * target = total/n_sources, leaving smaller sources intact.
    * Membership is integer-exact — keep doc iff
    * hashBucket(doc_id, 1e6) · n_src < target · 1e6 — i.e. a
    * per-source md5-threshold at rate target/n_src with no float
    * rounding anywhere (the inequality is BIGINT·BIGINT on both
    * engines). Returns the per-source report (source, n_total,
    * n_kept); apply the same predicate to materialize the mix.
    *
    * Scale: two tiny aggregates (per-source counts, global target)
    * broadcast back onto a single corpus scan — the 100 TB of rows
    * never shuffle, and membership stays a pure per-row function
    * given the (small) source-count table.
    */
  def sourceMix(documents: DataFrame): DataFrame = {
    val counts = documents.groupBy("source").agg(count(lit(1)).as("n_src"))
    val target = counts.agg(
      expr("sum(n_src) div count(1)").cast("long").as("target"))
    documents.select($("doc_id"), $("source"))
      .join(broadcast(counts), Seq("source"))
      .crossJoin(broadcast(target))
      .select($("source"),
        when(hashBucket($("doc_id"), 1000000) * $("n_src") <
          $("target") * lit(1000000L), 1).otherwise(0).as("kept"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"), sum($("kept")).cast("long").as("n_kept"))
  }

  /** Temperature-scaled source mixing — the LLM data-mixture pattern
    * (sampling weight ∝ count^α, α = 0.5): each source's quota of the
    * global `budget` is proportional to √(its doc count), boosting
    * small sources relative to raw-proportional sampling while never
    * exceeding a source's actual size. Returns the selected docs as
    * (doc_id, source, rn), rn = 1..quota in md5 order within source —
    * the same deterministic-uniform choice as [[sourceCap]].
    *
    * Integer-exactness: α = 0.5 is computed as `floor(sqrt(n)·1e6)` —
    * IEEE sqrt is correctly rounded, so the quantized weight is
    * bit-identical across engines — and quota = (budget·w) div Σw is
    * pure BIGINT arithmetic from there (no float sum whose order
    * could drift). General α would need pow(), which carries no
    * cross-engine rounding guarantee; √ is the common mixture setting
    * and the one that stays oracle-exact.
    *
    * Scale: two tiny aggregates (per-source counts → quotas, one row
    * per source) broadcast onto the same per-source md5 ranking
    * window as [[sourceCap]] — only (doc_id, source) pairs shuffle,
    * never text.
    */
  def temperatureMix(documents: DataFrame, budget: Long = 200L): DataFrame = {
    val weights = documents.groupBy("source")
      .agg(count(lit(1)).as("n_src"))
      .withColumn("wq",
        floor(sqrt($("n_src").cast("double")) * 1e6).cast("long"))
    val wsum = weights.agg(sum($("wq")).as("wsum"))
    val quotas = weights.crossJoin(broadcast(wsum))
      .select($("source"),
        least($("n_src"),
          expr(s"($budget * wq) div wsum")).cast("long").as("quota"))
    val w = Window.partitionBy($("source"))
      .orderBy(md5($("doc_id").cast("string")).asc, $("doc_id").asc)
    documents.select($("doc_id"), $("source"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(quotas), Seq("source"))
      .filter($("rn") <= $("quota"))
      .select($("doc_id"), $("source"), $("rn"))
  }

  /** Leakage-free train/val/test split: [[hashSplit]] keyed by the
    * near-dup CLUSTER rather than the document — the classic eval
    * bug this prevents is a near-duplicate pair straddling train and
    * test, which inflates every benchmark the held-out slice feeds
    * (the reason dedup pipelines split AFTER clustering). `labels`
    * is the (doc_id, component) store ([[graft.operators.Dedup
    * .componentsOf]] / its q207 incremental fold); docs outside any
    * cluster key by their own id, clustered docs by their component —
    * so an ENTIRE near-dup family lands in one split, deterministic
    * under the same md5 rule as [[hashSplit]].
    *
    * Scale: one doc-keyed left join against the label store (a
    * sliver — only docs in ≥1 pair have rows) + the row-local hash;
    * no window, no extra shuffle beyond the keyed join.
    */
  def clusterAwareSplit(documents: DataFrame, labels: DataFrame,
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "split percentages exceed 100")
    documents.spread().select($("doc_id"))
      .join(labels.select($("doc_id"), $("component")), Seq("doc_id"), "left")
      .select($("doc_id"),
        coalesce($("component"), $("doc_id")).as("split_key"))
      .withColumn("bucket", hashBucket($("split_key"), 100))
      .select($("doc_id"), $("split_key"), $("bucket"),
        when($("bucket") < trainPct, "train")
          .when($("bucket") < trainPct + valPct, "val")
          .otherwise("test").as("split"))
  }

  /** Repeat-epoch plan under a token budget — the data-constrained
    * scaling allocator (Muennighoff et al., "Scaling Data-Constrained
    * Language Models", NeurIPS 2023 — public literature): every
    * source may be repeated up to `maxRepeat` epochs, the budget
    * water-fills toward EQUAL per-source shares, and sources too
    * small to fill their share even at the repeat cap contribute
    * their full capacity while the shortfall redistributes to the
    * rest. Exact integer water-filling:
    *
    *  - capacity c_s = maxRepeat · tokens_s; sort sources by
    *    (c asc, source asc);
    *  - source at rank i is CAPPED iff c_i·(K−i+1) ≤ B − P_{i−1}
    *    (giving every remaining source c_i would still fit) — the
    *    condition is monotone along the sort, so the capped set is a
    *    prefix;
    *  - the m capped sources take their capacity; the rest take
    *    base = (B − P_m) div (K − m), with the remainder spread one
    *    token each to the first (B − P_m) mod (K − m) uncapped
    *    sources in sort order — allocations sum EXACTLY to
    *    min(B, Σc).
    *
    * Returns (source, n_tokens, capacity, alloc_tokens, epochs_milli
    * = alloc·1000 div tokens, capped). When the budget exceeds total
    * capacity every source caps and Σalloc < B — the report a
    * pipeline reads to know the budget is not fillable at this
    * repeat ceiling. Empty sources (0 tokens) are dropped.
    *
    * Scale: the token count is one corpus aggregate (map-side
    * combined, (source, partial) rows only); the water-fill windows
    * run over the K-row source table — single-partition but K-sized
    * by construction (the [[graft.operators.NgramLm.lmOutliers]]
    * bounded-stage argument).
    */
  def repeatPlan(documents: DataFrame, budgetTokens: Long,
      maxRepeat: Int = 4): DataFrame = {
    require(budgetTokens >= 0, s"negative budget $budgetTokens")
    require(maxRepeat >= 1, s"maxRepeat=$maxRepeat must be >= 1")
    val per = documents.spread()
      .select($("source"), TextAnalysis.tokenCount($("text"))
        .cast("long").as("n_tok"))
      .groupBy($("source")).agg(sum($("n_tok")).as("t"))
      .filter($("t") > 0)
      .withColumn("cap", $("t") * maxRepeat)
    val w = Window.orderBy($("cap").asc, $("source").asc)
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = per
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("pprev", coalesce(sum($("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("k", count(lit(1)).over(wAll).cast("long"))
      // cap·(K−i+1) reaches ~1e18·K at warehouse scale — cross-multiply
      // in DECIMAL(38,0) like [[repeatPlanTemperature]] so the prefix
      // condition never wraps BIGINT
      .withColumn("capped", expr(
        s"CAST(cap AS DECIMAL(38,0)) * CAST(k - i + 1 AS DECIMAL(38,0)) " +
          s"<= CAST($budgetTokens AS DECIMAL(38,0)) - " +
          "CAST(pprev AS DECIMAL(38,0))"))
    val sized = ranked
      .withColumn("m", sum(when($("capped"), 1L).otherwise(0L)).over(wAll))
      .withColumn("pm", coalesce(sum(when($("capped"), $("cap")))
        .over(wAll), lit(0L)))
      .withColumn("rem", lit(budgetTokens) - $("pm"))
      .withColumn("alloc",
        when($("capped"), $("cap")).otherwise(
          expr("rem div (k - m)") +
            when($("i") - $("m") <= expr("rem % (k - m)"), 1L)
              .otherwise(0L)))
    sized.select($("source"), $("t").as("n_tokens"), $("cap").as("capacity"),
      $("alloc").as("alloc_tokens"),
      expr("(alloc * 1000) div t").as("epochs_milli"), $("capped"))
  }

  /** Temperature-weighted repeat plan — [[repeatPlan]]'s target is
    * EQUAL per-source shares; real mixtures up-weight small trusted
    * sources less brutally via temperature: target share ∝ √tokens
    * (α = 0.5, [[temperatureMix]]'s weighting) with the same
    * `maxRepeat` epoch ceiling. Exact integer water-filling with
    * weights:
    *
    *  - w_s = floor(1e6·√tokens_s) ([[temperatureMix]]'s quantized
    *    IEEE sqrt — identical in both engines); capacity c_s =
    *    maxRepeat·tokens_s; sort by the double ratio c/w asc (exact
    *    integer inputs ⇒ identical doubles), source asc;
    *  - rank i is CAPPED iff c_i·W_i ≤ R_i·w_i with W_i the SUFFIX
    *    weight sum and R_i the budget left after the capped prefix —
    *    cross-multiplied in DECIMAL(38,0)/HUGEINT (c·W reaches ~1e27
    *    at warehouse scale: BIGINT would overflow, doubles would
    *    round); the condition is monotone along the ratio sort, so
    *    the capped set is a prefix;
    *  - the uncapped split rem = B − Σ capped caps by HAMILTON
    *    (largest-remainder) apportionment: base_s = rem·w_s div W,
    *    one extra token each to the largest rem·w_s mod W (ties:
    *    source asc) — allocations sum EXACTLY to min(B, Σc), and
    *    base+1 ≤ c_s is guaranteed for every uncapped source by the
    *    prefix condition (cap_j·W > rem·w_j for all uncapped j).
    *
    * Returns (source, n_tokens, w_micro, capacity, alloc_tokens,
    * epochs_milli, capped). Same scale shape as [[repeatPlan]]: one
    * corpus token aggregate, then K-row windows.
    */
  def repeatPlanTemperature(documents: DataFrame, budgetTokens: Long,
      maxRepeat: Int = 4): DataFrame = {
    require(budgetTokens >= 0, s"negative budget $budgetTokens")
    require(maxRepeat >= 1, s"maxRepeat=$maxRepeat must be >= 1")
    val per = documents.spread()
      .select($("source"), TextAnalysis.tokenCount($("text"))
        .cast("long").as("n_tok"))
      .groupBy($("source")).agg(sum($("n_tok")).as("t"))
      .filter($("t") > 0)
      .withColumn("cap", $("t") * maxRepeat)
      .withColumn("w",
        floor(sqrt($("t").cast("double")) * 1e6).cast("long"))
    val w = Window
      .orderBy(($("cap").cast("double") / $("w").cast("double")).asc,
        $("source").asc)
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ranked = per
      .withColumn("pprev", coalesce(sum($("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("wsuf", sum($("w")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("capped", expr(
        s"CAST(cap AS DECIMAL(38,0)) * CAST(wsuf AS DECIMAL(38,0)) <= " +
          s"CAST($budgetTokens - pprev AS DECIMAL(38,0)) * " +
          "CAST(w AS DECIMAL(38,0))"))
    val sized = ranked
      .withColumn("pm", coalesce(sum(when($("capped"), $("cap")))
        .over(wAll), lit(0L)))
      .withColumn("wunc", coalesce(sum(when(not($("capped")), $("w")))
        .over(wAll), lit(0L)))
      .withColumn("rem", lit(budgetTokens) - $("pm"))
      .withColumn("base", when($("capped"), lit(null).cast("long"))
        .otherwise(expr(
          "(CAST(rem AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) div " +
            "CAST(wunc AS DECIMAL(38,0))")))
      .withColumn("rmd", when($("capped"), lit(null).cast("decimal(38,0)"))
        .otherwise(expr(
          "(CAST(rem AS DECIMAL(38,0)) * CAST(w AS DECIMAL(38,0))) % " +
            "CAST(wunc AS DECIMAL(38,0))")))
    // Hamilton leftover: one extra token to the largest remainders
    // among the uncapped (capped rows sort last and never draw one)
    val rw = Window.orderBy($("capped").asc, $("rmd").desc, $("source").asc)
    sized
      .withColumn("dist",
        $("rem") - coalesce(sum($("base")).over(wAll), lit(0L)))
      .withColumn("rrk", row_number().over(rw).cast("long"))
      .withColumn("alloc", when($("capped"), $("cap"))
        .otherwise($("base") +
          when($("rrk") <= $("dist"), 1L).otherwise(0L)))
      .select($("source"), $("t").as("n_tokens"), $("w").as("w_micro"),
        $("cap").as("capacity"), $("alloc").as("alloc_tokens"),
        expr("(alloc * 1000) div t").as("epochs_milli"), $("capped"))
  }

  /** Sequence-packing bin assignment: within each source, documents
    * are laid out in md5 order and concatenated; a doc's bin is the
    * context window its FIRST token lands in under naive
    * `contextLen`-token packing — bin = (cumulative tokens before the
    * doc) div contextLen. Gives the packed-corpus shape (windows per
    * source, fill order) deterministically, without materializing any
    * token stream.
    *
    * Scale: one running-sum window per source (same per-source
    * partitioning argument as [[sourceCap]]); only (doc_id, source,
    * n_tok) rows shuffle.
    */
  def packBins(documents: DataFrame, contextLen: Int = 4096): DataFrame = {
    val w = Window.partitionBy($("source"))
      .orderBy(md5($("doc_id").cast("string")).asc, $("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select($("doc_id"), $("source"),
        TextAnalysis.tokenCount($("text")).cast("long").as("n_tok"))
      .withColumn("cum", sum($("n_tok")).over(w))
      .select($("doc_id"), $("source"),
        expr(s"(cum - n_tok) div $contextLen").cast("long").as("bin"))
  }

  /** The composed curation pipeline: training documents surviving
    * exact dedup (only each fingerprint group's canonical keep_id
    * survives) AND benchmark decontamination (no rare-shingle overlap
    * with the eval set). Returns (doc_id, source) of survivors —
    * what a user would actually feed the tokenizer.
    *
    * Scale: the canonical-id set joins as a semi join on doc_id; the
    * contaminated set (output of [[decontaminate]], already bounded)
    * anti-joins the same way. Both carry ids only — never text.
    */
  def cleanCorpus(documents: DataFrame, n: Int = 8, maxDf: Int = 100,
      evalMod: Long = 10L): DataFrame = {
    val canonical = Dedup.exactDuplicates(documents)
      .select($("keep_id").as("doc_id"))
    val contaminated = decontaminate(documents, n, maxDf, evalMod)
      .select("doc_id")
    documents.select($("doc_id"), $("source"))
      .filter($("doc_id") % evalMod =!= 0)
      .join(canonical, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Span-level corpus cleaning — [[cleanCorpus]]'s analogue for the
    * token-window family: keep TRAIN documents (doc_id % evalMod != 0)
    * that (a) are long enough to window (≥ k tokens), (b) have at most
    * half their tokens covered by corpus-duplicated k-token windows
    * (dup_tokens·2 ≤ n_tokens — integer-exact, no double threshold),
    * and (c) are not flagged by the bloom span decontaminator.
    * Returns (doc_id, source).
    *
    * Scale: ONE persisted window table ([[SubstringDedup
    * .windowOccurrences]] output — a parquet intermediate at warehouse
    * scale) feeds both analysis legs; the verdict sets join back as
    * id-only semi/anti joins, so document text never moves past the
    * initial scan.
    */
  def spanCleanCorpus(documents: DataFrame, k: Int = 8,
      m: Int = BloomDecontam.DefaultM,
      seeds: Int = BloomDecontam.DefaultSeeds,
      evalMod: Long = BloomDecontam.DefaultEvalMod): DataFrame = {
    val wins = SubstringDedup.windowOccurrences(documents, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lens = SubstringDedup.docTokenLengths(documents, k)
    val tooDup = SubstringDedup.coverageFromWindows(wins, k)
      .join(lens, Seq("doc_id"))
      .where($("dup_tokens") * 2 > $("n_tokens"))
      .select("doc_id")
    val flagged = BloomDecontam
      .flaggedFromWindows(wins.select($("doc_id"), $("fp")), m, seeds, evalMod)
      .select("doc_id")
    val result = documents.select($("doc_id"), $("source"))
      .filter($("doc_id") % evalMod =!= 0)
      .join(lens.select("doc_id"), Seq("doc_id"), "left_semi")
      .join(tooDup, Seq("doc_id"), "left_anti")
      .join(flagged, Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    wins.unpersist(false)
    result
  }

  /** Benchmark decontamination: flag training documents sharing at
    * least one rare character `n`-gram with the held-out eval set
    * (membership: doc_id % evalMod == 0 — stands in for "doc_id in
    * benchmark manifest"). Returns (doc_id, n_shared) for contaminated
    * TRAINING docs only; n_shared = count of distinct rare shingles
    * shared with any eval doc.
    *
    * The document-frequency cut (df ≤ maxDf, same bounding idea as
    * [[Dedup.ngramJaccardPairs]]) drops boilerplate shingles that
    * would otherwise match everything: a contamination signal carried
    * by an 8-gram appearing in >maxDf docs is no signal at all, and at
    * scale an uncut ubiquitous shingle makes the join quadratic.
    */
  def decontaminate(documents: DataFrame, n: Int = 8, maxDf: Int = 100,
      evalMod: Long = 10L): DataFrame =
    decontaminateFrom(Dedup.shingles(documents, n), maxDf, evalMod)

  /** [[decontaminate]] off a PERSISTED distinct shingle index (the
    * warehouse `shingles8` store) — shingling is doc-local, so the
    * artifact path is exact; the corpus explode runs once per corpus
    * version instead of per consumer.
    */
  def decontaminateFrom(shingleIndex: DataFrame, maxDf: Int = 100,
      evalMod: Long = 10L): DataFrame = {
    // the shingle index feeds the df cut AND both join sides —
    // materialize once (parquet intermediate at warehouse scale); the
    // (doc_id, n_shared) result is checkpointed eagerly so the index
    // cache can drop before returning (no session cache accumulation)
    val sh0 = shingleIndex
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($("df") <= maxDf).select("shingle")
    val sh = sh0.join(rare, Seq("shingle"))
    val evalShingles = sh.filter($("doc_id") % evalMod === 0)
      .select("shingle").distinct()
    val result = sh.filter($("doc_id") % evalMod =!= 0)
      .join(evalShingles, Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .localCheckpoint(true)
    sh0.unpersist(false)
    result
  }

  /** Multi-benchmark contamination matrix — [[decontaminate]]
    * generalized from one eval set to a SUITE: per benchmark, how many
    * training documents share rare shingles with it and how many
    * matches there are. A release review reads this per-benchmark
    * (leaking into one benchmark poisons that metric only); the
    * per-doc flag list stays [[decontaminate]]'s job. Benchmark
    * membership here derives from the eval split deterministically
    * ((doc_id div evalMod) parity → two synthetic benchmarks), the
    * stand-in for a real (benchmark, doc) manifest.
    *
    * Scale: ONE shingle index feeds everything (persist-once); the
    * benchmark-distinct shingle sliver drives the probe join — for a
    * real benchmark suite that is broadcastable, making the whole
    * matrix a map-side semi-join over the training corpus.
    */
  def contaminationByBenchmark(documents: DataFrame, n: Int = 8,
      maxDf: Int = 100, evalMod: Long = 10L): DataFrame =
    contaminationByBenchmarkFrom(Dedup.shingles(documents, n), maxDf,
      evalMod)

  /** [[contaminationByBenchmark]] off a persisted shingle index. */
  def contaminationByBenchmarkFrom(shingleIndex: DataFrame,
      maxDf: Int = 100, evalMod: Long = 10L): DataFrame = {
    val sh0 = shingleIndex
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($("df") <= maxDf).select("shingle")
    val sh = sh0.join(rare, Seq("shingle"))
    val bench = when(expr(s"(doc_id div $evalMod) % 2") === 0, "benchA")
      .otherwise("benchB")
    val evalSh = sh.filter($("doc_id") % evalMod === 0)
      .select(bench.as("benchmark"), $("shingle"), $("doc_id"))
    val nEval = evalSh.groupBy("benchmark")
      .agg(count_distinct($("doc_id")).as("n_eval_docs"))
    val shared = sh.filter($("doc_id") % evalMod =!= 0)
      .join(evalSh.select($("benchmark"), $("shingle")).distinct(),
        Seq("shingle"))
      .groupBy("benchmark")
      .agg(count_distinct($("doc_id")).as("n_contaminated_train"),
        count(lit(1)).as("n_shared_rows"))
    val result = nEval.join(shared, Seq("benchmark"), "left")
      .select($("benchmark"), $("n_eval_docs"),
        coalesce($("n_contaminated_train"), lit(0L))
          .as("n_contaminated_train"),
        coalesce($("n_shared_rows"), lit(0L)).as("n_shared_rows"))
      .localCheckpoint(true)
    sh0.unpersist(false)
    result
  }

  /** The eval-side view of [[decontaminate]] — per EVAL document, how
    * much of it leaked into training: of the doc's distinct rare
    * `n`-gram shingles, the share also present in at least one
    * training doc. The benchmark-integrity report read when deciding
    * whether an eval set is still trustworthy against a trained
    * corpus (a doc at frac 1.0 is fully memorizable). Returns
    * (doc_id, n_shingles, n_contam, contam_frac) for eval docs with
    * ≥ 1 rare shingle; membership = doc_id % evalMod == 0 as in
    * [[decontaminate]].
    *
    * Scale: shares decontaminate's plan to the letter — one shingle
    * index (materialized once, df-cut bounded), the train-side
    * distinct, one equi-join on shingle — plus a per-eval-doc count
    * aggregate. Eval sets are tiny relative to the corpus, so the
    * final join is eval-shingle-proportional. The ratio is
    * integer/integer — bit-exact cross-engine.
    */
  def contaminationFraction(documents: DataFrame, n: Int = 8,
      maxDf: Int = 100, evalMod: Long = 10L): DataFrame =
    contaminationFractionFrom(Dedup.shingles(documents, n), maxDf,
      evalMod)

  /** [[contaminationFraction]] off a persisted shingle index. */
  def contaminationFractionFrom(shingleIndex: DataFrame,
      maxDf: Int = 100, evalMod: Long = 10L): DataFrame = {
    val sh0 = shingleIndex
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($("df") <= maxDf).select("shingle")
    val sh = sh0.join(rare, Seq("shingle"))
    val trainShingles = sh.filter($("doc_id") % evalMod =!= 0)
      .select("shingle").distinct()
      .withColumn("hit", lit(1L))
    val result = sh.filter($("doc_id") % evalMod === 0)
      .join(trainShingles, Seq("shingle"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce($("hit"), lit(0L))).cast("long").as("n_contam"))
      .select($("doc_id"), $("n_shingles"), $("n_contam"),
        ($("n_contam").cast("double") / $("n_shingles")).as("contam_frac"))
      .localCheckpoint(true)
    sh0.unpersist(false)
    result
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling" — public): per
    * document, the unigram log-likelihood ratio between a TARGET
    * domain (here: the docs whose `source` is in `targetSources`) and
    * the raw corpus, `Σ_tok c_doc(tok) · [ln p_target(tok) −
    * ln p_raw(tok)]` with add-one smoothing over the corpus
    * vocabulary. High weights mark documents that look like the
    * target domain; resampling by weight is the selection step.
    *
    * Determinism contract (hash-gated): the per-TOKEN-TYPE log ratio
    * `ln( (t_c+1)·(N_raw+V) / ((r_c+1)·(N_tgt+V)) )` is computed once
    * per vocabulary type from exact BIGINTs (one fixed-order double
    * expression, one `ln`), HALF_UP-rounded to integer micro-nats —
    * and the per-document weight is then an exact integer Σ of
    * c·lr_micro products. No partition-order-dependent double sum
    * exists anywhere.
    *
    * Scale: the token stream aggregates to type-level tables
    * map-side-combined (raw counts; target counts via a pre-shuffle
    * source filter); the log-ratio table is vocab-sized and joins
    * BROADCAST into the per-doc (doc_id, token, c) aggregate — text
    * never shuffles, and the only row-proportional exchange is the
    * (doc_id, token, c) partial-aggregate that every LM-scoring
    * sibling ([[TextAnalysis.unigramLmScore]]) already pays.
    */
  def dsirWeights(documents: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame = {
    val (toks, weights) = dsirWeightsBuild(documents, targetSources)
    // checkpoint the one-row-per-doc result eagerly so the token
    // cache can drop before returning (the unigramLmScore pattern)
    val result = weights.localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** The un-checkpointed q78 pipeline — split out so PlanAuditSpec
    * can assert the join strategy on the REAL plan (the public
    * surface returns a checkpoint scan). Returns (persisted token
    * stream, weights plan); callers own the unpersist.
    */
  private[graft] def dsirWeightsBuild(documents: DataFrame,
      targetSources: Seq[String]): (DataFrame, DataFrame) = {
    // raw fans out (vocab totals + the ratio table) — materialize the
    // type-level table before the fan-out (q51 cache-race lesson);
    // it is vocab-sized, cheap to checkpoint eagerly.
    // three consumers of the token stream (raw counts, target counts,
    // per-doc counts) — persist the explode once; the FIRST consumer
    // is materialized eagerly (raw's checkpoint) so the cache is
    // populated before any fan-out could race it.
    val toks = documents.spread()
      .select($("doc_id"), $("source"),
        explode(split(TextAnalysis.normText($("text")), " ")).as("token"))
      .filter(length($("token")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val raw = toks.groupBy("token").agg(count(lit(1)).as("r_c"))
      .localCheckpoint(true)
    val tgt = toks.filter($("source").isInCollection(targetSources))
      .groupBy("token").agg(count(lit(1)).as("t_c"))
    val totals = raw.agg(
      sum($("r_c")).cast("long").as("n_raw"),
      count(lit(1)).cast("long").as("v"))
    val tgtTotal = tgt.agg(
      coalesce(sum($("t_c")), lit(0L)).cast("long").as("n_tgt"))
    val ratio = raw
      .join(tgt, Seq("token"), "left")
      .na.fill(0L, Seq("t_c"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(tgtTotal))
      .select($("token"),
        round(lit(1e6) * log(
          ($("t_c") + 1).cast("double") * ($("n_raw") + $("v")) /
            (($("r_c") + 1).cast("double") * ($("n_tgt") + $("v")))))
          .cast("long").as("lr_micro"))
    val weights = toks.groupBy($("doc_id"), $("token")).agg(count(lit(1)).as("c"))
      .join(broadcast(ratio), Seq("token"))
      .groupBy("doc_id")
      .agg(sum($("c")).cast("long").as("n_tok"),
        sum($("c") * $("lr_micro")).cast("long").as("dsir_micro"))
    (toks, weights)
  }

  /** Per-source token-distribution drift vs the corpus: KL(source ‖
    * corpus) over unigram distributions, Σ_tok p_s(tok) ·
    * ln(p_s(tok) / p_c(tok)) — the distribution-shift scalar a mixing
    * pipeline tracks per source/snapshot (rising KL flags a source
    * whose content is drifting away from the blend it was weighted
    * for). No smoothing is needed: every source token is a corpus
    * token, so p_c > 0 wherever p_s > 0. Returns one row per source:
    * (source, n_tokens, vocab, kl_micro).
    *
    * Determinism contract (hash-gated, the [[dsirWeights]]
    * discipline): each token type's contribution `1e6 · (c_s/N_s) ·
    * ln(c_s·N_c / (c_c·N_s))` is ONE fixed-order double expression
    * over exact BIGINTs, HALF_UP-rounded to integer micro-nats; the
    * per-source KL is then an exact integer sum — no
    * partition-order-dependent double accumulation anywhere.
    *
    * Scale: the (source, token) aggregate is map-side-combined off
    * the token stream; corpus counts and totals DERIVE from it (no
    * second corpus pass); the totals join broadcast. The only
    * vocab-proportional exchange is the (token) re-aggregate + the
    * sc⋈cc equi-join — type-level tables, not token occurrences.
    */
  def sourceKlDrift(documents: DataFrame): DataFrame = {
    val toks = documents.spread()
      .select($("source"),
        explode(split(TextAnalysis.normText($("text")), " ")).as("token"))
      .filter(length($("token")) > 0)
    // sc fans into corpus counts, per-source totals, and the contrib
    // join — materialize once (cache-race rule: first consumer below
    // is the eager count)
    val sc = toks.groupBy("source", "token").agg(count(lit(1)).as("c_s"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sc.count()
    val cc = sc.groupBy("token").agg(sum($("c_s")).cast("long").as("c_c"))
    val st = sc.groupBy("source").agg(sum($("c_s")).cast("long").as("n_s"))
    val ct = cc.agg(sum($("c_c")).cast("long").as("n_c"))
    val contrib = sc
      .join(cc, Seq("token"))
      .join(broadcast(st), Seq("source"))
      .crossJoin(broadcast(ct))
      .select($("source"), $("n_s"),
        round(lit(1e6) * ($("c_s").cast("double") / $("n_s")) *
          log($("c_s").cast("double") * $("n_c") /
            ($("c_c").cast("double") * $("n_s"))))
          .cast("long").as("contrib_micro"))
    val result = contrib.groupBy("source")
      .agg(max($("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum($("contrib_micro")).cast("long").as("kl_micro"))
      .localCheckpoint(true)
    sc.unpersist(false)
    result
  }

  /** Packing-efficiency report over [[packBins]]'s bin assignment:
    * per (source, bin), the doc count, token total, and fill ratio
    * vs the context length (`fill_micro` > 1e6 marks straddling —
    * the last doc of a bin overflowing into the next, i.e. tokens a
    * non-splitting packer would truncate or pad around). The table a
    * pipeline reads to choose `contextLen` and judge padding waste.
    *
    * Scale: identical plan to [[packBins]] (one per-source window
    * pass over (doc_id, source, n_tok) triples) plus a (source, bin)
    * aggregate whose output is total_tokens/contextLen rows.
    */
  def packStats(documents: DataFrame, contextLen: Int = 4096): DataFrame = {
    val w = Window.partitionBy($("source"))
      .orderBy(md5($("doc_id").cast("string")).asc, $("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents
      .select($("doc_id"), $("source"),
        TextAnalysis.tokenCount($("text")).cast("long").as("n_tok"))
      .withColumn("cum", sum($("n_tok")).over(w))
      .select($("source"),
        expr(s"(cum - n_tok) div $contextLen").cast("long").as("bin"),
        $("n_tok"))
      .groupBy($("source"), $("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum($("n_tok")).cast("long").as("sum_tok"))
      .select($("source"), $("bin"), $("n_docs"), $("sum_tok"),
        round(lit(1e6) * $("sum_tok") / lit(contextLen)).cast("long")
          .as("fill_micro"))
  }

  /** Data-card census — the per-(split, source) doc/char/token table
    * a released dataset ships with: every rollup level (split×source,
    * per split, grand total) in one aggregation, `gid` marking the
    * level. Splits are the same md5 buckets as [[hashSplit]], so the
    * census matches the shards [[hashSplit]] actually produces.
    *
    * Scale: ONE corpus scan — the split label and token count are
    * narrow expressions, the rollup expands grouping sets inside a
    * single partial-aggregated HashAggregate (no re-scan per level),
    * and only (split, source, partial counts) rows shuffle.
    */
  def dataCard(documents: DataFrame, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    val norm = TextAnalysis.normText($("text"))
    documents.spread()
      .select(
        when(hashBucket($("doc_id"), 100) < trainPct, "train")
          .when(hashBucket($("doc_id"), 100) < trainPct + valPct, "val")
          .otherwise("test").as("split"),
        $("source"),
        $("n_chars"),
        when(length(norm) === 0, 0L)
          .otherwise(size(split(norm, " ")).cast("long")).as("n_tok"))
      .rollup($("split"), $("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum($("n_chars")).cast("long").as("sum_chars"),
        sum($("n_tok")).cast("long").as("sum_tokens"),
        grouping_id().cast("long").as("gid"))
  }

  /** Dataset-version diff: given two snapshots keyed by `doc_id` with
    * a content fingerprint column `fp`, classify every key as
    * added / removed / changed / unchanged via ONE full outer join.
    * The reconciliation report a pipeline runs between two crawl
    * versions (or before/after a cleaning pass) to audit exactly what
    * a release changed.
    *
    * Scale: the join carries only (doc_id, fp) — never the text — so
    * the shuffle is key-width at any corpus size. Full outer is
    * required: semi/anti formulations
    * would need two extra passes to recover both exclusive sides.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    val o = oldSnap.select($("doc_id"), $("fp").as("old_fp"))
    val n = newSnap.select($("doc_id"), $("fp").as("new_fp"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select($("doc_id"), $("old_fp"), $("new_fp"),
        when($("old_fp").isNull, "added")
          .when($("new_fp").isNull, "removed")
          .when($("old_fp") === $("new_fp"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Per-source adaptive quality gate: rank each source's documents
    * by [[TextAnalysis.qualityScore]] and keep the top
    * `keepPermille`/1000 fraction — the "drop the worst decile of
    * every source" filter, with the cut adapting to each source's own
    * score distribution instead of one global threshold.
    *
    * Determinism: the keep rule is pure integer arithmetic
    * (rn · 1000 ≤ keepPermille · n over exact BIGINT rank/count), and
    * ties rank by (quality desc, doc_id) — a total order — so the cut
    * is reproducible and shard-order-free.
    *
    * Scale: only (doc_id, source, quality) rides the per-source
    * window (text stays at the scan); the window is the same
    * source-partitioned pass [[sourceCap]]/[[packBins]] pay. For a
    * pathologically dominant source, the two-pass variant — aggregate
    * per-source count first, then cut on an md5-salted percentile
    * estimate — bounds the sort, mirroring sourceCap's note.
    */
  def qualityGate(documents: DataFrame, keepPermille: Int = 900): DataFrame = {
    val byScore = Window.partitionBy($("source"))
      .orderBy($("quality").desc, $("doc_id").asc)
    val bySource = Window.partitionBy($("source"))
    documents.spread()
      .select($("doc_id"), $("source"),
        TextAnalysis.qualityScore($("text")).as("quality"))
      .withColumn("rn", row_number().over(byScore).cast("long"))
      .withColumn("n", count(lit(1)).over(bySource))
      .select($("doc_id"), $("source"), $("quality"),
        ($("rn") * 1000 <= lit(keepPermille) * $("n")).as("keep"))
  }

  /** The composite gate's entropy band, SHARED by the windowed form
    * ([[compositeGate]]), the served form ([[compositeGateFrom]]) and
    * the streaming twin ([[graft.streaming.DocStreams
    * .compositeGateStream]]) as their default: one retune moves all
    * three together (the q164 keepPermille drift warning applied to
    * the band itself — duplicated literals were the silent-drift
    * risk). Fixture-tuned like q27's threshold: corpus entropy spans
    * ~3.7-4.2 bits, the 3900 floor trims the lowest ~5%, the 4500
    * ceiling is the random/encoded-noise guard. The q164/q179 oracle
    * SQL carries the literals independently, so a retune here without
    * the matching SQL change fails the hash gate loudly.
    */
  val MinEntropyMilli: Long = 3900L
  val MaxEntropyMilli: Long = 4500L

  /** The CALIBRATED composite keep/drop gate — the FineWeb-style
    * filter stack as ONE auditable decision table: per NB-scorable
    * document, the classifier LLR ([[TextAnalysis
    * .nbClassifierScores]], the CCNet wiki-vs-crawl signal), the
    * Gopher rule verdict ([[TextAnalysis.gopherRules]]), and the
    * character entropy ([[TextAnalysis.charEntropy]]), each reduced
    * to its own attribution boolean so a dropped doc says WHICH rule
    * killed it:
    *
    *   - `ok_nb`: per-SOURCE adaptive cut — [[qualityGate]]'s exact
    *     integer rank rule (rn·1000 ≤ keepPermille·n over llr_micro
    *     desc, doc_id asc) applied to the classifier score, so each
    *     crawl loses its own worst `1000-keepPermille` permille
    *     rather than one global threshold favoring whichever source
    *     the classifier likes;
    *   - `ok_gopher`: the absolute repetition/length/stopword rules
    *     (q77's `keep`);
    *   - `ok_entropy`: `entropy_milli` inside
    *     [minEntropyMilli, maxEntropyMilli] — floor catches
    *     degenerate boilerplate, ceiling catches random/encoded
    *     noise. Defaults tuned to the fixture like q27's threshold
    *     (corpus entropy spans ~3.7-4.2 bits; the 3900 floor trims
    *     the lowest ~5%), with the 4500 ceiling as the noise guard.
    *
    *   `keep` = all three. Docs with zero tokens after normalization
    *   carry no NB evidence and are omitted (q156's contract).
    *
    * Scale: the NB scorer keeps its own two passes (labeled-slice
    * training aggregate + the scoring pass, broadcast LM join), and
    * [[TextAnalysis.ruleSignals]] fuses the gopher verdict + entropy
    * + source into ONE more scan (all row-local expressions, zero
    * shuffle) — three corpus scans total where the unfused
    * composition paid five, reduced to doc-keyed SIGNAL tables before
    * the one doc_id equi-join (the signal side BROADCASTS); corpus
    * text never shuffles, and the only exchange is the per-source
    * rank window [[qualityGate]] already pays.
    */
  def compositeGate(documents: DataFrame,
      posSources: Seq[String] = Seq("src0", "src1", "src2"),
      negSources: Seq[String] = Seq("src3", "src4", "src5"),
      keepPermille: Int = 900,
      minEntropyMilli: Long = MinEntropyMilli,
      maxEntropyMilli: Long = MaxEntropyMilli): DataFrame = {
    val nb = TextAnalysis.nbClassifierScores(documents, posSources, negSources)
      .select($("doc_id"), $("llr_micro"))
    val signals = TextAnalysis.ruleSignals(documents)
    val byLlr = Window.partitionBy($("source"))
      .orderBy($("llr_micro").desc, $("doc_id").asc)
    val bySource = Window.partitionBy($("source"))
    nb.join(signals, Seq("doc_id"))
      .withColumn("rn", row_number().over(byLlr).cast("long"))
      .withColumn("n", count(lit(1)).over(bySource))
      .select($("doc_id"), $("source"), $("llr_micro"), $("entropy_milli"),
        ($("rn") * 1000 <= lit(keepPermille) * $("n")).as("ok_nb"),
        $("ok_gopher"),
        ($("entropy_milli") >= minEntropyMilli &&
          $("entropy_milli") <= maxEntropyMilli).as("ok_entropy"))
      .withColumn("keep", $("ok_nb") && $("ok_gopher") && $("ok_entropy"))
  }

  /** The composite gate's SERVE-TIME cut artifact: per source, the
    * boundary of [[compositeGate]]'s rank rule — (source,
    * thr_llr_micro, thr_doc_id) where the boundary is the LAST KEPT
    * row under (llr_micro desc, doc_id asc). A doc is then kept by
    * the NB rule iff `llr > thr OR (llr == thr AND doc_id <=
    * thr_doc_id)` — the exact rank-prefix predicate, windowless. A
    * source whose keep quota is zero emits NO row (every doc drops).
    *
    * This is the [[graft.operators.TextAnalysis.nbModel]] discipline
    * applied to the gate itself: train the cuts once per corpus
    * version, persist the K-row table, and every future delivery is
    * gated by [[compositeGateFrom]] (or the streaming twin) with a
    * broadcast join — no per-source window over the accumulated
    * corpus ever again.
    */
  def gateThresholds(documents: DataFrame,
      posSources: Seq[String] = Seq("src0", "src1", "src2"),
      negSources: Seq[String] = Seq("src3", "src4", "src5"),
      keepPermille: Int = 900): DataFrame =
    thresholdsFromScores(
      TextAnalysis.nbClassifierScores(documents, posSources, negSources)
        .select($("doc_id"), $("llr_micro")),
      documents, keepPermille)

  /** [[gateThresholds]] off an already-trained NB model — the
    * production form: one training pass yields (lm, consts), and the
    * threshold derivation scores the corpus with [[TextAnalysis
    * .nbScoreFrom]] instead of retraining (nbScoreFrom ==
    * nbClassifierScores is spec-pinned, so the cut table is
    * identical).
    */
  def gateThresholdsFrom(lm: DataFrame, consts: DataFrame,
      documents: DataFrame, keepPermille: Int = 900): DataFrame =
    thresholdsFromScores(
      TextAnalysis.nbScoreFrom(lm, consts, documents)
        .select($("doc_id"), $("llr_micro")),
      documents, keepPermille)

  /** [[gateThresholds]] off a PERSISTED per-doc score table —
    * the recalibration-cadence form (ADVICE round-13): `scores`
    * carries (doc_id, llr_micro) rows for the corpus version under
    * the model version being calibrated (e.g. [[graft.operators
    * .TextAnalysis.nbScoreFromProfiles]] output persisted next to
    * the model), `docSrc` the narrow (doc_id, source) projection.
    * The cut derivation is then ONE rank window over two narrow
    * tables — corpus text is never read, let alone re-tokenized.
    */
  def gateThresholdsFromScores(scores: DataFrame, docSrc: DataFrame,
      keepPermille: Int = 900): DataFrame =
    thresholdsFromScores(scores.select($("doc_id"), $("llr_micro")),
      docSrc, keepPermille)

  private def thresholdsFromScores(nb: DataFrame, documents: DataFrame,
      keepPermille: Int): DataFrame = {
    val byLlr = Window.partitionBy($("source"))
      .orderBy($("llr_micro").desc, $("doc_id").asc)
    val bySource = Window.partitionBy($("source"))
    nb.join(documents.select($("doc_id"), $("source")), Seq("doc_id"))
      .withColumn("rn", row_number().over(byLlr).cast("long"))
      .withColumn("n", count(lit(1)).over(bySource))
      .filter($("rn") * 1000 <= lit(keepPermille) * $("n"))
      .groupBy($("source"))
      .agg(max_by(struct($("llr_micro"), $("doc_id")), $("rn")).as("b"))
      .select($("source"), $("b.llr_micro").as("thr_llr_micro"),
        $("b.doc_id").as("thr_doc_id"))
  }

  /** [[compositeGate]] SERVED from persisted artifacts — the
    * [[gateThresholds]] cut table and the NB model (lm + consts):
    * identical output schema and, on the training corpus, identical
    * rows (q179's oracle is q164's SQL verbatim). The plan has NO
    * window at all: one NB scoring pass, one fused signal scan, and
    * a BROADCAST join against the K-row threshold table — the shape
    * a delivery gate actually runs at 100 TB, where re-windowing the
    * accumulated corpus per delivery is the thing this artifact
    * exists to avoid.
    */
  def compositeGateFrom(thresholds: DataFrame, lm: DataFrame,
      consts: DataFrame, documents: DataFrame,
      minEntropyMilli: Long = MinEntropyMilli,
      maxEntropyMilli: Long = MaxEntropyMilli): DataFrame =
    TextAnalysis.nbScoreFrom(lm, consts, documents)
      .select($("doc_id"), $("llr_micro"))
      .join(TextAnalysis.ruleSignals(documents), Seq("doc_id"))
      .join(broadcast(thresholds), Seq("source"), "left")
      .select($("doc_id"), $("source"), $("llr_micro"), $("entropy_milli"),
        ($("thr_llr_micro").isNotNull &&
          ($("llr_micro") > $("thr_llr_micro") ||
            ($("llr_micro") === $("thr_llr_micro") &&
              $("doc_id") <= $("thr_doc_id")))).as("ok_nb"),
        $("ok_gopher"),
        ($("entropy_milli") >= minEntropyMilli &&
          $("entropy_milli") <= maxEntropyMilli).as("ok_entropy"))
      .withColumn("keep", $("ok_nb") && $("ok_gopher") && $("ok_entropy"))

  /** DSIR selection step: keep each document with probability
    * min(1, exp(w)) where w is its [[dsirWeights]] importance weight
    * in nats — the resampling that skews a raw corpus toward the
    * target distribution. Deterministic: the uniform draw u derives
    * from md5(doc_id) (seedless, retry/shard-order stable), and the
    * keep test u < exp(w) is evaluated in log space as
    * floor(1000·ln(u)) < w_milli — exact-integer compare, no exp
    * overflow for the |w| ≫ 700-nat docs a real corpus produces, and
    * milli granularity keeps the boundary ~3 orders clear of
    * libm-vs-Math.log ulp divergence (the q79 discipline).
    *
    * Scale: [[dsirWeightsBuild]]'s plan (type-level tables shuffle,
    * tokens partial-aggregate map-side) plus one narrow map — the
    * draw and compare add nothing to the exchange profile.
    */
  def dsirResample(documents: DataFrame,
      targetSources: Seq[String] = Seq("src0", "src1", "src2", "src3")): DataFrame = {
    val (toks, weights) = dsirWeightsBuild(documents, targetSources)
    // u = (h+1)/16^12 ∈ (0,1] from the first 12 md5 hex chars: 48
    // uniform bits, exact as a double
    val h = conv(substring(md5($("doc_id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val lnuMilli = floor(lit(1000.0) * log(
      ($("h") + 1).cast("double") / lit(281474976710656.0))).cast("long")
    val wMilli = floor($("dsir_micro").cast("double") / 1000.0).cast("long")
    val result = weights
      .withColumn("h", h)
      .select($("doc_id"), $("n_tok"), $("dsir_micro"),
        (lnuMilli < wMilli).as("keep"))
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * draw `k` documents with inclusion probability proportional to
    * token count, as one distributed top-k — the curation step that
    * subsamples a corpus toward long documents (or any weight) without
    * a global sort and without sequential draws.
    *
    * A-ES: assign each row the key u^(1/w) (u uniform, w its weight)
    * and keep the k largest keys. Determinism (the [[dsirResample]]
    * discipline): u derives from md5('ws:' ∥ doc_id) — seedless,
    * shard-order-free — and the key is compared in log space as
    * exact integers: key = −((−floor(1e6·ln u)) div w), truncated
    * division on NON-NEGATIVE operands so Spark's `div` and DuckDB's
    * `//` agree (they differ on negatives: truncate vs floor). Micro
    * granularity keeps floor boundaries ~7 orders above libm ulp
    * divergence; ties (coarse key collisions) break by doc_id — a
    * total order, so the sample is reproducible bit-for-bit.
    *
    * Scale: one narrow scan computes (w, key); the top-k is
    * TakeOrderedAndProject (per-partition bounded heaps + driver
    * merge of k rows) — no shuffle of the corpus, no global sort, no
    * coordination between draws. This is the 100 TB replacement for
    * driver-side reservoir loops.
    */
  def weightedSample(documents: DataFrame, k: Int = 100): DataFrame = {
    val h = conv(substring(md5(concat(lit("ws:"),
      $("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
    val w = greatest(TextAnalysis.tokenCount($("text")).cast("long"), lit(1L))
    documents.spread()
      .select($("doc_id"), $("source"), w.as("n_tok"), h.as("h"))
      .withColumn("lnu_micro", floor(lit(1000000.0) *
        log(($("h") + 1).cast("double") / lit(281474976710656.0)))
        .cast("long"))
      .select($("doc_id"), $("source"), $("n_tok"),
        (-(expr("(-lnu_micro) div n_tok"))).cast("long").as("aes_key"))
      .orderBy($("aes_key").desc, $("doc_id").asc)
      .limit(k)
  }

  /** Greedy token-budget trim: keep the highest-quality documents
    * until the corpus fits `budgetTokens` — the "fit 1T tokens" cut
    * every training run makes, as a deterministic flag column
    * (greedy by quality desc, then doc_id asc at the boundary).
    *
    * Scale-safe global greedy WITHOUT a corpus-wide window: phase 1
    * aggregates tokens per DISTINCT QUALITY VALUE (map-side combined;
    * the quality score is a coarse discrete signal, so this histogram
    * is tiny) and cumsums it desc — whole levels inside the budget
    * keep everything; phase 2 resolves only the ONE boundary level
    * with a doc-level cumsum window partitioned by quality value.
    * The only unpartitioned window runs over the histogram rows, the
    * [[lengthQuantiles]]/[[graft.operators.TextAnalysis.vocabCoverage]]
    * bounded-input pattern. If one quality value dominated the corpus,
    * pre-split its boundary window with an md5-salted sub-key
    * (sourceCap's note).
    */
  def tokenBudgetTrim(documents: DataFrame,
      budgetTokens: Long = 10000L): DataFrame = {
    val scored = documents.spread()
      .select($("doc_id"),
        TextAnalysis.qualityScore($("text")).as("quality"),
        TextAnalysis.tokenCount($("text")).cast("long").as("n_tok"))
    val qOrder = Window.orderBy($("quality").desc)
    val hist = scored.groupBy($("quality")).agg(sum($("n_tok")).as("q_tok"))
      .withColumn("cum_before", coalesce(sum($("q_tok"))
        .over(qOrder.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val byBoundary = Window.partitionBy($("quality")).orderBy($("doc_id").asc)
    scored.join(broadcast(hist), Seq("quality"))
      .withColumn("doc_cum", sum($("n_tok")).over(byBoundary))
      .select($("doc_id"), $("quality"), $("n_tok"),
        (($("cum_before") + $("q_tok") <= budgetTokens) ||
          ($("cum_before") < budgetTokens &&
            $("cum_before") + $("doc_cum") <= budgetTokens)).as("keep"))
  }

  /** Per-source [[weightedSample]]: the A-ES draw with a SEPARATE
    * reservoir per source — "k weighted picks from every crawl", the
    * quota-preserving form ([[sourceCap]] is its unweighted uniform
    * sibling). Same exact-integer log-space keys; the per-source top-k
    * is a rank window partitioned by source, so the only sort is over
    * each source's rows with just (ids, key) riding it.
    *
    * Scale: one narrow scan computes keys; the window shuffles
    * key-width rows by source. For a pathologically dominant source,
    * pre-filter with an md5-threshold guess of the k-th key
    * (sourceCap's note) to bound the window input before ranking.
    */
  def weightedSamplePerSource(documents: DataFrame, k: Int = 20): DataFrame = {
    val h = conv(substring(md5(concat(lit("ws:"),
      $("doc_id").cast("string"))), 1, 12), 16, 10).cast("long")
    val w = greatest(TextAnalysis.tokenCount($("text")).cast("long"), lit(1L))
    val bySource = Window.partitionBy($("source"))
      .orderBy($("aes_key").desc, $("doc_id").asc)
    documents.spread()
      .select($("doc_id"), $("source"), w.as("n_tok"), h.as("h"))
      .withColumn("lnu_micro", floor(lit(1000000.0) *
        log(($("h") + 1).cast("double") / lit(281474976710656.0)))
        .cast("long"))
      .select($("doc_id"), $("source"), $("n_tok"),
        (-(expr("(-lnu_micro) div n_tok"))).cast("long").as("aes_key"))
      .withColumn("rn", row_number().over(bySource).cast("long"))
      .where($("rn") <= k)
      .select($("doc_id"), $("source"), $("n_tok"), $("aes_key"), $("rn"))
  }

  /** SCD Type-2 dimension builder from periodic full snapshots: given
    * one row per (doc_id, fp, snap) for every key PRESENT in snapshot
    * `snap`, emit validity intervals (doc_id, fp, valid_from,
    * valid_to, is_current) — the slowly-changing-dimension history a
    * warehouse keeps so any past corpus state can be reconstructed
    * ([[snapshotDiff]] is the two-snapshot special case; this is the
    * n-snapshot generalization that also handles deletion and
    * reappearance).
    *
    * Semantics (gaps-and-islands): an interval starts where a key
    * first appears, its fingerprint changes, or it reappears after an
    * absence; it ends (`valid_to` = last_snap + 1, exclusive) when the
    * fingerprint changes OR the key goes absent at the next snapshot.
    * Intervals alive at the latest snapshot get `valid_to` NULL and
    * `is_current` true.
    *
    * Determinism: island boundaries are exact integer/equality tests
    * over a per-key window ordered by (snap) — a total order, since a
    * key occurs at most once per snapshot — so the history is
    * reproducible and shard-order-free.
    *
    * Scale: only (doc_id, fp, snap) rides the shuffle — one key-width
    * exchange, then two window passes over the SAME per-key
    * partitioning (Spark plans one Exchange, two Window nodes) plus a
    * partial-aggregated island groupBy on the same key prefix. Text
    * never moves; per-key row count is bounded by the snapshot count,
    * so window sorts are tiny regardless of corpus size. The global
    * max-snapshot scalar joins back as a broadcast literal row.
    */
  def scd2(snapshots: DataFrame): DataFrame = {
    val byKey = Window.partitionBy($("doc_id")).orderBy($("snap"))
    val isStart = $("prev_snap").isNull || $("prev_fp") =!= $("fp") ||
      $("prev_snap") =!= $("snap") - 1
    val islands = snapshots
      .select($("doc_id"), $("fp"), $("snap").cast("long").as("snap"))
      .withColumn("prev_fp", lag($("fp"), 1).over(byKey))
      .withColumn("prev_snap", lag($("snap"), 1).over(byKey))
      .withColumn("island",
        sum(when(isStart, 1L).otherwise(0L)).over(byKey))
      .groupBy($("doc_id"), $("island"))
      .agg(min($("fp")).as("fp"), min($("snap")).as("valid_from"),
        max($("snap")).as("last_snap"))
    val maxSnap = snapshots.agg(max($("snap").cast("long")).as("max_snap"))
    islands.crossJoin(broadcast(maxSnap))
      .select($("doc_id"), $("fp"), $("valid_from"),
        when($("last_snap") === $("max_snap"), lit(null).cast("long"))
          .otherwise($("last_snap") + 1L).as("valid_to"),
        ($("last_snap") === $("max_snap")).as("is_current"))
  }

  /** The deterministic snapshot series the q126 contract runs [[scd2]]
    * over: three md5-bucket perturbations of `documents` exercising
    * every interval shape — revision at snap 1 (bucket 3), revision at
    * snap 2 (bucket 5), late arrival (bucket 7 absent from snap 0),
    * deletion (bucket 8 absent from snap ≥ 1), and absence-then-
    * reappearance (bucket 9 missing only at snap 1).
    */
  def snapshotSeries(documents: DataFrame): DataFrame = {
    val b = hashBucket($("doc_id"), 10)
    def fpOf(text: Column): Column = md5(TextAnalysis.normText(text))
    val s0 = documents.filter(b =!= 7)
      .select($("doc_id"), fpOf($("text")).as("fp"), lit(0L).as("snap"))
    val s1 = documents.filter(b =!= 8 && b =!= 9)
      .select($("doc_id"),
        fpOf(when(b === 3, concat($("text"), lit(" v2")))
          .otherwise($("text"))).as("fp"),
        lit(1L).as("snap"))
    val s2 = documents.filter(b =!= 8)
      .select($("doc_id"),
        fpOf(when(b === 3, concat($("text"), lit(" v2")))
          .when(b === 5, concat($("text"), lit(" v3")))
          .otherwise($("text"))).as("fp"),
        lit(2L).as("snap"))
    s0.unionByName(s1).unionByName(s2)
  }

  /** Per-shard integrity manifest: for each value of `shardCol`, the
    * doc count, exact token count, and a CONTENT hash — md5 over the
    * doc-id-ordered concatenation of per-doc content fingerprints.
    * Two corpus versions produce identical manifest rows iff the
    * shard's membership AND every member's normalized text are
    * identical, so diffing manifests pinpoints exactly which shards a
    * rewrite/dedup pass touched — the reproducibility receipt a
    * training run stores next to its shards (and the shard-level
    * sibling of [[snapshotDiff]]'s per-doc story).
    *
    * Scale: one scan computing (fp, n_tok) per doc, ONE shuffle on
    * the shard key; the per-shard fingerprint list is 32 bytes/doc,
    * so a 10M-doc shard folds ~320 MB on one task — pass
    * `subShards` > 1 and the fold becomes TWO bounded stages: units
    * hash within md5-bucketed sub-shards first, then the shard hash
    * folds the ordered sub-hashes (subShards 32-byte strings). Any
    * unit change still flips exactly its shard's receipt; the
    * hierarchical hash VALUE differs from the flat one by
    * construction, so pick one form per warehouse and keep it.
    */
  def shardManifest(documents: DataFrame, shardCol: String = "split",
      subShards: Int = 1): DataFrame = {
    require(subShards >= 1, s"subShards must be >= 1, got $subShards")
    if (subShards == 1)
      manifestUnits(documents, shardCol, subShards)
        .groupBy(shardCol)
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($("n_tok")).cast("long").as("n_tok"),
          unitHash(collect_list(struct($("doc_id"), $("fp"))))
            .as("content_md5"),
          digSum(unitDig($("doc_id"), $("fp"))).as("content_dig61"))
    else
      manifestFromSub(
        subManifestFromUnits(
          manifestUnits(documents, shardCol, subShards), shardCol),
        shardCol)
  }

  /** Per-doc manifest units (shardCol, sub, doc_id, fp, n_tok) — the
    * first stage of [[shardManifest]], exposed because the unit table
    * IS the persisted state of the INCREMENTAL manifest: store it
    * (partitioned by (shardCol, sub) so cell reads prune), and a
    * delivery folds in with [[updatedSubManifest]] touching only the
    * cells it lands in.
    */
  def manifestUnits(documents: DataFrame, shardCol: String = "split",
      subShards: Int = 1): DataFrame =
    documents.spread()
      .select(col(shardCol), $("doc_id"),
        // NULL text gets a sentinel fp (distinct from md5 of the
        // empty string): concat of a NULL fp would make concat_ws
        // silently DROP the doc's unit from the receipt
        coalesce(TextAnalysis.fingerprint($("text")), lit("null"))
          .as("fp"),
        coalesce(TextAnalysis.tokenCount($("text")).cast("long"), lit(0L))
          .as("n_tok"))
      .withColumn("sub", hashBucket($("doc_id"), subShards))

  // hash units are "doc_id:fp" so a same-text membership swap (doc
  // replaced by a twin under another id) still flips the hash —
  // the manifest receipts identity, not just bytes
  private def unitHash(rows: Column): Column =
    md5(concat_ws("", transform(array_sort(rows),
      x => concat(x("doc_id").cast("string"), lit(":"), x("fp")))))

  /** Modulus of the COMMUTATIVE receipt digest: 2^61 − 1 (a Mersenne
    * prime, so no small-factor structure in collisions).
    */
  private[graft] val Dig61P = 2305843009213693951L

  /** Per-unit 60-bit integer digest over the SAME "doc_id:fp"
    * identity string as [[unitHash]] — 15 md5 hex chars, always
    * < 2^60 < [[Dig61P]]. private[graft]: the streaming twin
    * ([[graft.streaming.DocStreams.manifestDigestStreamSigned]])
    * derives the same per-unit value in-stream.
    */
  private[graft] def unitDig(docId: Column, fp: Column): Column =
    conv(substring(md5(concat(docId.cast("string"), lit(":"), fp)),
      1, 15), 16, 10).cast("long")

  /** Σ digest mod [[Dig61P]] — summed as DECIMAL(38,0) so no corpus
    * size can overflow before the mod (10^38 ≫ 2^60 · row-count).
    * Inputs are non-negative, so no pmod dance is needed.
    */
  private def digSum(dig: Column): Column =
    (sum(dig.cast("decimal(38,0)")) % lit(Dig61P)).cast("long")

  /** The SIGNED digest fold — the streaming/batch twin of the
    * sub-manifest's `sub_dig61` column: `signedUnits` is
    * [[manifestUnits]]-shaped rows plus an `op` column (+1 delivery,
    * −1 takedown); per (shard, sub) cell it returns the surviving
    * multiset's (n_docs, n_tok, sub_dig61), exactly what
    * [[subManifestFromUnits]] computes over the survivors — because
    * the digest is a SUM mod a prime, retraction is subtraction, no
    * member set needed (the property the order-DEPENDENT `sub_md5`
    * deliberately lacks; see the tradeoff note on [[manifestUnits]]).
    * Cells folded to zero vanish (the retractedSubManifest rule);
    * a NEGATIVE count raises — over-retraction is corruption, not
    * state (the nbCountsRetract discipline).
    */
  def signedSubDigest(signedUnits: DataFrame,
      shardCol: String = "split"): DataFrame =
    signedUnits
      .groupBy(col(shardCol), $("sub"))
      .agg(sum($("op")).cast("long").as("n_docs"),
        sum($("op") * $("n_tok")).cast("long").as("n_tok"),
        ((sum(($("op") * unitDig($("doc_id"), $("fp")))
            .cast("decimal(38,0)")) % lit(Dig61P) + lit(Dig61P))
          % lit(Dig61P)).cast("long").as("sub_dig61"))
      .select(col(shardCol), $("sub"),
        when($("n_docs") >= 0, $("n_docs"))
          .otherwise(raise_error(concat(
            lit("signedSubDigest: negative count in cell "),
            col(shardCol), lit("/"), $("sub").cast("string"),
            lit(" — a unit was retracted more times than delivered"))))
          .as("n_docs"),
        $("n_tok"), $("sub_dig61"))
      .filter($("n_docs") > 0)

  /** (shardCol, sub, n_docs, n_tok, sub_md5) per sub-shard cell —
    * [[shardManifest]]'s hierarchical first fold over
    * [[manifestUnits]]; the cell table is the OTHER persisted state
    * of the incremental manifest (sub-shard-count rows).
    */
  def subManifestFromUnits(units: DataFrame,
      shardCol: String = "split"): DataFrame =
    units
      .groupBy(col(shardCol), $("sub"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum($("n_tok")).cast("long").as("n_tok"),
        unitHash(collect_list(struct($("doc_id"), $("fp"))))
          .as("sub_md5"),
        digSum(unitDig($("doc_id"), $("fp"))).as("sub_dig61"))

  /** Fold a sub-manifest cell table into the per-shard receipt —
    * [[shardManifest]]'s hierarchical second stage (sub-shard-count
    * rows in, shard-count rows out; value-identical to
    * `shardManifest(…, subShards = K)`).
    */
  def manifestFromSub(subManifest: DataFrame,
      shardCol: String = "split"): DataFrame =
    subManifest
      .groupBy(shardCol)
      .agg(sum($("n_docs")).cast("long").as("n_docs"),
        sum($("n_tok")).cast("long").as("n_tok"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct($("sub"), $("sub_md5")))),
          x => x("sub_md5")))).as("content_md5"),
        // modular sums re-fold: shard digest == Σ unit digests mod p,
        // independent of the sub-shard grouping (unlike content_md5,
        // whose hierarchical value differs from the flat one)
        digSum($("sub_dig61")).as("content_dig61"))

  /** INCREMENTAL manifest maintenance: fold a delivery's
    * [[manifestUnits]] into an accumulated sub-manifest by
    * recomputing ONLY the (shard, sub) cells the batch lands in —
    * members of an affected cell re-read from `unitStore` ∪ the
    * batch; every untouched cell's row carries over verbatim. The
    * per-delivery cost is batch units + the affected cells' members,
    * never a corpus re-hash: with the unit store partitioned by
    * (shardCol, sub), the member re-read PRUNES to the affected
    * cells, so a small delivery is delivery-proportional (the q154
    * window-index discipline applied to integrity receipts — this
    * closes the one non-delivery-proportional stage IngestDemo had).
    * Fold == from-scratch exactly (spec-pinned, and the contract
    * entry is gated by the hierarchical q162 SQL), so incremental and
    * batch receipts interchange.
    *
    * `unitStore` must NOT already contain the batch (membership is
    * identity-keyed, so a replay would double-count — the caller owns
    * exactly-once delivery, same as [[graft.operators.SubstringDedup
    * .updatedWindowIndex]]).
    *
    * The receipt carries TWO digests with complementary contracts
    * (round-14). `sub_md5` — md5 over the doc-id-SORTED concat of
    * unit identities — is the strong batch form: collision-resistant,
    * but foldable only with the member set in hand, so its
    * live-maintenance form is exactly this batch fold over the
    * persisted unit store. `sub_dig61` — Σ of per-unit 60-bit md5
    * digests mod the prime 2^61−1 — is COMMUTATIVE: delivery adds,
    * takedown subtracts ([[signedSubDigest]]), so it streams with no
    * member set and gives the manifest family signed streaming twins.
    * The tradeoff is adversarial strength: a modular sum is not
    * collision-resistant against CHOSEN inputs (k units can be
    * crafted to sum to any target; unlike xor, duplicates do NOT
    * cancel — the multiset count rides the sum — but engineered
    * cancellation is feasible), so `sub_dig61` serves live drift
    * DETECTION while `sub_md5` remains the receipt of record that
    * every batch reconciliation re-derives.
    */
  def updatedSubManifest(subManifest: DataFrame, unitStore: DataFrame,
      batchUnits: DataFrame, shardCol: String = "split"): DataFrame = {
    val affected = batchUnits.select(col(shardCol), $("sub")).distinct()
    val recomputed = subManifestFromUnits(
      unitStore.unionByName(batchUnits)
        .join(affected, Seq(shardCol, "sub")), shardCol)
    subManifest
      .join(affected, Seq(shardCol, "sub"), "left_anti")
      .unionByName(recomputed)
  }

  /** Retract removed documents from an accumulated sub-manifest —
    * [[updatedSubManifest]]'s inverse, the TAKEDOWN receipt fold:
    * only the (shard, sub) cells the removal touches recompute, from
    * the unit store's SURVIVING members of those cells (the member
    * re-read prunes on the store's (shardCol, sub) partitioning);
    * every untouched cell's row carries over verbatim, and a cell
    * emptied by the removal vanishes — exactly what from-scratch
    * over the remaining corpus produces (spec-pinned, and the
    * contract entry is gated by the hierarchical-manifest SQL over
    * the remaining slice). Removal cost is removed units + the
    * touched cells' members, never a corpus re-hash. `removedUnits`
    * must be the removed docs' [[manifestUnits]] rows (identity-keyed
    * membership; exactly-once ownership is the caller's, symmetric
    * with the update fold — the fold==from-scratch check is the
    * replay detector here, since an already-absent member leaves the
    * anti-join, and therefore the receipt, unchanged).
    */
  def retractedSubManifest(subManifest: DataFrame, unitStore: DataFrame,
      removedUnits: DataFrame, shardCol: String = "split"): DataFrame = {
    val affected = removedUnits.select(col(shardCol), $("sub")).distinct()
    val surviving = unitStore
      .join(affected, Seq(shardCol, "sub")) // prune BEFORE the anti-join
      .join(removedUnits.select(col(shardCol), $("sub"), $("doc_id")),
        Seq(shardCol, "sub", "doc_id"), "left_anti")
    subManifest
      .join(affected, Seq(shardCol, "sub"), "left_anti")
      .unionByName(subManifestFromUnits(surviving, shardCol))
  }

  /** Diff two [[shardManifest]] receipts: per shard,
    * `unchanged` / `changed` / `added` / `removed` plus the doc and
    * token deltas — the rerun report that tells a training job WHICH
    * shards to re-read (and the cache/loader tier which to
    * invalidate) without touching corpus bytes. Both inputs must be
    * the same manifest form (flat or the same `subShards`); the
    * receipts are engine-portable strings, so old can come off disk
    * from any prior run.
    *
    * Scale: a full-outer join of two manifest tables — shard-count
    * rows, nothing corpus-sized.
    */
  def manifestDiff(oldManifest: DataFrame, newManifest: DataFrame,
      shardCol: String = "split"): DataFrame =
    oldManifest.select(col(shardCol), $("content_md5").as("old_md5"),
        $("n_docs").as("old_docs"), $("n_tok").as("old_tok"))
      .join(newManifest.select(col(shardCol),
          $("content_md5").as("new_md5"), $("n_docs").as("new_docs"),
          $("n_tok").as("new_tok")),
        Seq(shardCol), "full_outer")
      .select(col(shardCol),
        when($("old_md5").isNull, "added")
          .when($("new_md5").isNull, "removed")
          .when($("old_md5") === $("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        (coalesce($("new_docs"), lit(0L)) -
          coalesce($("old_docs"), lit(0L))).as("docs_delta"),
        (coalesce($("new_tok"), lit(0L)) -
          coalesce($("old_tok"), lit(0L))).as("tok_delta"))

  /** Integrity receipts for the SERVE-ARTIFACT stores themselves —
    * "which artifact version gated this delivery", the
    * [[shardManifest]] discipline applied to arbitrary keyed artifact
    * tables (fingerprint store, signature store, window index, NB
    * model, gate thresholds, …). One receipt row per named artifact:
    * (artifact, n_docs = row count, n_tok = 0, content_md5), diffable
    * with [[manifestDiff]](…, "artifact") so an ingest run records
    * receipts next to its index folds and a later job can prove which
    * artifacts a refresh actually changed (n_tok rides as 0 — token
    * counts are a corpus concept; the column stays so the manifest
    * schema, and therefore manifestDiff, is shared verbatim).
    *
    * Row identity: md5 over ALL columns cast to string, joined on a
    * U+0001 field separator with NULL cells as a U+0000 sentinel (a
    * NULL cell must not silently equal an empty string, and "a"+"bc"
    * must not collide with "ab"+"c"). Receipts are duplicate- and
    * content-sensitive: the per-row hashes fold through the same
    * sorted-concat unit hash as corpus manifests ([[shardManifest]]'s
    * hierarchical form, so a 100M-row signature store folds in
    * bounded sub-shard cells, never one task).
    *
    * Scale: one scan per artifact computing a 32-char fp, one shuffle
    * on (artifact, sub); nothing artifact-row-sized concentrates — the
    * same two bounded stages as the hierarchical corpus manifest.
    */
  def artifactManifest(artifacts: Seq[(String, DataFrame)],
      subShards: Int = 4): DataFrame = {
    require(artifacts.nonEmpty, "artifactManifest needs >= 1 artifact")
    val units = artifacts.map { case (name, df) =>
      val rowFp = md5(concat_ws("\u0001",
        df.columns.toIndexedSeq.map(c =>
          coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      df.select(lit(name).as("artifact"), rowFp.as("doc_id"),
          rowFp.as("fp"), lit(0L).as("n_tok"))
        .withColumn("sub", hashBucket($("fp"), subShards))
    }.reduce(_ unionByName _)
    val computed =
      manifestFromSub(subManifestFromUnits(units, "artifact"), "artifact")
    // ONE receipt row per named artifact even when a store is
    // legitimately EMPTY (a gate_thr with every quota 0, a span index
    // over sub-k-token docs): the group-by yields no row for zero
    // units, which would make an empty store indistinguishable from a
    // MISSING one and read as added/removed in the delta. The
    // canonical empty receipt is (0, 0, md5("")) — the value a
    // zero-cell fold would hash — so empty <-> non-empty transitions
    // diff as "changed", never as a phantom membership event.
    // `computed` appears once in the plan: each reference to it scans
    // and hashes every store again (column pruning keeps two
    // references from sharing a scan)
    val spark0 = artifacts.head._2.sparkSession
    import spark0.implicits._
    artifacts.map(_._1).distinct.toDF("artifact")
      .join(computed, Seq("artifact"), "left")
      .select($("artifact"),
        coalesce($("n_docs"), lit(0L)).as("n_docs"),
        coalesce($("n_tok"), lit(0L)).as("n_tok"),
        coalesce($("content_md5"), md5(lit(""))).as("content_md5"),
        // the empty multiset's modular sum
        coalesce($("content_dig61"), lit(0L)).as("content_dig61"))
  }
}
