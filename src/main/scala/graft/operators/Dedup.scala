package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis.normText
import graft.operators.OrderedOut._

/** Deduplication operators for training-data pipelines (builder brief;
  * BASELINE.json north star): exact, MinHash+LSH, SimHash, and n-gram
  * Jaccard via an inverted shingle index.
  *
  * Portability design: every base hash is `md5` (identical hex output
  * in Spark and DuckDB); MinHash uses a numeric affine family over the
  * md5-derived 60-bit integer (see minhashSignatures), so the whole
  * family is oracle-checkable with zero custom SQL machinery.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 32-char key, not the text;
  *  - minhash signatures are one scan + one groupBy(doc) over exploded
  *    shingles (partial `min` combines map-side, so the shuffle carries
  *    ≤ k×32 bytes per doc);
  *  - LSH banding turns all-pairs comparison into an equi-join on band
  *    hashes (no cross join anywhere);
  *  - the Jaccard verify joins candidate pairs back to shingle sets —
  *    an inverted-index join, never a cartesian product;
  *  - document-frequency stopword cut bounds the worst-case bucket
  *    (a shingle shared by half the corpus would otherwise create a
  *    quadratic bucket at scale).
  */
object Dedup {

  private def $(name: String): Column = col(name)

  /** Exact dedup: group by content fingerprint, keep the smallest
    * doc_id as the canonical copy. Returns (fp, keep_id, n_copies).
    */
  def exactDuplicates(documents: DataFrame): DataFrame =
    documents
      .spread()
      .select($("doc_id"), TextAnalysis.fingerprint($("text")).as("fp"))
      .groupBy("fp")
      .agg(min($("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Character `n`-gram shingle OCCURRENCES of the normalized text —
    * NOT deduplicated: (doc_id, shingle) with repeats. `substr(norm,
    * i, n)` over a generated position sequence — pure expressions,
    * fully narrow (no shuffle). Feed this to aggregations that are
    * idempotent under duplicates (MinHash's min); use [[shingles]]
    * when set semantics are required.
    */
  def shingleOccurrences(documents: DataFrame, n: Int = 5): DataFrame =
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .select($("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(length(norm) - ${n - 1}, 1)), i -> substr(norm, i, $n))"))
        .as("shingle"))

  /** Character `n`-gram shingles of the normalized text, DISTINCT per
    * doc: (doc_id, shingle). Deduplication is DOC-LOCAL by definition
    * (doc_id is part of the key), so it runs map-side via
    * `array_distinct` BEFORE the explode — zero shuffle
    * (optimization round 18, guide §2.4 "remove shuffles outright"):
    * the old `occurrences.distinct()` paid a corpus-wide exchange of
    * the exploded rows to dedup a key the row already localizes.
    * Same row set.
    */
  def shingles(documents: DataFrame, n: Int = 5): DataFrame =
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .select($("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(1, greatest(length(norm) - ${n - 1}, 1)), i -> substr(norm, i, $n)))"))
        .as("shingle"))

  /** The (a, b) pairs of the MinHash affine family — fixed constants
    * mirrored literally in the DuckDB oracle SQL (TrainingEntries).
    * a_i, b_i < p so a·(h mod p)+b < 2^60: no int64 overflow.
    */
  val HashP: Long = 1000000007L
  val hashParams: Seq[(Long, Long)] = Seq(
    (914334049L, 284136261L), (741931007L, 619847281L),
    (330419503L, 172362479L), (558461773L, 903849021L),
    (125692831L, 447018337L), (987001223L,  61553219L),
    (206941159L, 719428003L), (493820599L, 350179741L),
    ( 77101631L, 582390467L), (864200987L, 138471209L),
    (272839451L, 935172611L), (650918327L,  24689473L),
    (391006259L, 806154031L), (718263451L, 463920779L),
    ( 53187407L, 291045233L), (842976721L, 674310193L))

  /** MinHash signatures: one md5 per shingle → 60-bit base hash h,
    * then k affine hashes h_i = (a_i·(h mod p) + b_i) mod p with
    * p = 1e9+7; signature_i = min over the doc's shingles.
    *
    * Numeric (BIGINT) signatures keep the aggregation in a fixed-width
    * HashAggregate with map-side partial mins (a string min would fall
    * back to SortAggregate), and cost ONE md5 per shingle instead of k.
    * Output: doc_id, sig00..sig{k-1}.
    *
    * Computed over shingle OCCURRENCES, not the distinct set: `min` is
    * idempotent under duplicates, so the signatures are identical and
    * the whole derivation stays NARROW — scan → explode → partial-min
    * HashAggregate, with only (doc_id, k mins) ever shuffling. The
    * distinct set (a full shuffle of every shingle in the corpus) is
    * deferred to the verify stage, which needs it only for the tiny
    * candidate sliver.
    */
  def minhashSignatures(documents: DataFrame, n: Int = 5, k: Int = 16): DataFrame =
    // the distinct set, not the occurrence multiset: min is
    // duplicate-blind, and the map-side array_distinct (round 18)
    // makes the set STRICTLY CHEAPER to produce — one md5 per
    // distinct shingle per doc instead of one per occurrence, still
    // zero-shuffle
    minhashSignaturesFrom(shingles(documents, n), k)

  /** Signature computation over (doc_id, shingle) rows — duplicates
    * allowed (min is idempotent; pass occurrences to stay narrow).
    * Unordered: callers that surface it directly (q25) order it; the
    * LSH pipeline must NOT squeeze signatures through a sort.
    */
  def minhashSignaturesFrom(sh: DataFrame, k: Int = 16): DataFrame = {
    require(k <= Dedup.hashParams.length, s"k=$k exceeds hash family size")
    val hashed = sh.withColumn("h",
      conv(substring(md5($("shingle")), 1, 15), 16, 10).cast("long") % HashP)
    val aggs = (0 until k).map { i =>
      val (a, b) = Dedup.hashParams(i)
      min(($("h") * a + b) % HashP).as(f"sig$i%02d")
    }
    hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs: split the k-wide signature into `bands`
    * bands of k/bands rows each, hash each band, and equi-join docs
    * sharing any band hash. Returns distinct (id1 < id2) pairs.
    *
    * Hot-bucket cap (`maxBucket`): buckets holding more than
    * `maxBucket` docs are dropped before the self-join — the same
    * bounding idea as ngramJaccardPairs' document-frequency cut. One
    * degenerate band value (boilerplate-heavy shard) would otherwise
    * produce O(bucket²) candidate pairs; with the cap the worst case
    * is bands·(N/maxBucket)·maxBucket² = bands·N·maxBucket pairs —
    * linear in corpus size. A bucket that large is near-certainly a
    * mass-duplicated template: run exactDuplicates FIRST and minhash
    * over the surviving uniques, which is also the cheaper pipeline.
    */
  /** (doc_id, band, bhash) band-hash rows of a signature table — the
    * shared front of [[lshCandidates]] and [[incrementalNearDups]].
    */
  private[graft] def bandHashes(signatures: DataFrame, k: Int,
      bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k=$k must divide evenly into bands=$bands (trailing signature " +
        "columns would be silently ignored, weakening recall)")
    val rowsPerBand = k / bands
    signatures.select(
      $("doc_id"),
      posexplode(array((0 until bands).map { b =>
        md5(concat_ws("|",
          (0 until rowsPerBand).map(r =>
            col(f"sig${b * rowsPerBand + r}%02d").cast("string")): _*))
      }: _*)).as(Seq("band", "bhash")))
  }

  def lshCandidates(signatures: DataFrame, k: Int = 16, bands: Int = 4,
      maxBucket: Int = 256): DataFrame = {
    // The banded table is referenced THREE times below (bucket-size
    // aggregation + both self-join legs); unmaterialized, the whole
    // signature pipeline (scan → shingle explode → 16 hash mins →
    // band hashes) re-executes once per reference — FOUR corpus
    // scans per call in the physical plan (measured, optimization
    // round 18), each costing ~10 executor-cpu-s at sf0.1 and one
    // sequential broadcast-subtree build. One eager materialization
    // of the k/bands-per-doc narrow rows (id + band + md5 — bytes
    // per doc, never content) collapses them to a single pass: the
    // jaccardDetailFor intermediate-materialization discipline.
    val banded = bandHashes(signatures, k, bands).localCheckpoint(true)
    val okBuckets = banded.groupBy("band", "bhash")
      .agg(count(lit(1)).as("bsz"))
      .filter($("bsz") <= maxBucket)
      .select("band", "bhash")
    val bounded = banded.join(okBuckets, Seq("band", "bhash"))
    val a = bounded.select($("band"), $("bhash"), $("doc_id").as("id1"))
    val b = bounded.select($("band"), $("bhash"), $("doc_id").as("id2"))
    a.join(b, Seq("band", "bhash"))
      .filter($("id1") < $("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact Jaccard for given pairs via the inverted shingle index:
    * |A∩B| from a shingle equi-join, sizes from per-doc counts —
    * jaccard = common / (|A| + |B| − common), computed from integers
    * (bit-identical across engines).
    *
    * `sh` may carry duplicate (doc_id, shingle) occurrences — the
    * prune runs first and the DISTINCT that Jaccard set semantics
    * require happens inside the sliver's collect_set aggregation.
    * That ordering is the point: only docs that actually appear in a
    * pair survive the broadcast semi-join on the candidate-id set, so
    * neither the set aggregation nor the pair joins ever move the
    * full corpus index — at 100 TB that is the difference between
    * shuffling the near-dup sliver and shuffling every shingle.
    * `pairs` is materialized because it fans into the join and the id
    * set; the per-doc set table is materialized because both pair
    * endpoints read it (cache-race rule, see componentsOf). Both
    * intermediates are UNPERSISTED before returning: the (id1, id2,
    * jaccard) result — one bounded row per candidate pair — is
    * localCheckpointed eagerly, so repeated invocations in one
    * session don't accumulate cached shingle blocks (the result rows
    * are the only storage the call leaves behind).
    */
  def jaccardFor(pairs: DataFrame, sh: DataFrame): DataFrame =
    jaccardDetailFor(pairs, sh).select("id1", "id2", "jaccard")

  /** [[jaccardFor]] with the underlying integers exposed — (id1, id2,
    * common, sz1, sz2, jaccard). Consumers needing exact-integer
    * similarity arithmetic (the q98 calibration's micro-quantized
    * mean) read common/sizes directly instead of re-deriving them
    * from the double.
    */
  def jaccardDetailFor(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    val ids = p.select($("id1").as("doc_id"))
      .union(p.select($("id2").as("doc_id"))).distinct()
    // Per-doc shingle SETS of the candidate sliver, one array row per
    // doc: the broadcast semi-join prunes the (duplicate-tolerant)
    // index to candidate docs and collect_set dedups inside ONE
    // map-side-combined aggregate — the separate sliver distinct and
    // per-doc size aggregate of the old shape are folded into it.
    //
    // WHY sets-as-arrays (optimization round 18, guide §2.3/§8): the
    // old verify joined every candidate pair with the FULL shingle
    // set of each endpoint — candidates × ~|doc| expansion rows
    // crossing THREE exchanges (join by id1, join by (id2, shingle),
    // groupBy pair). Measured at sf0.1: 148k candidates → 436 MB
    // shuffled / ~150 executor-cpu-s for q27 alone. Attaching each
    // doc's set ONCE and intersecting per pair
    // (size(array_intersect)) moves each set once (the §8 "move the
    // payload once" rule), eliminates the expansion and its
    // aggregation outright, and computes the same exact integers:
    // collect_set = the distinct shingle set, array_intersect = exact
    // string-equality set intersection, so common/sz1/sz2 — and the
    // jaccard derived from them — are bit-identical.
    // sort_array once per DOC so the per-PAIR intersect below is a
    // two-pointer merge (see SortedIntersectCountExpression — the
    // array_intersect hash-set build per pair was the family's
    // dominant cpu slice after the set-attach rewrite)
    val sets = sh.join(broadcast(ids), Seq("doc_id"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set($("shingle"))).as("ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sets.count()
    // join 1 (sets side shuffle_hash): spreads the pair table by id1
    // — a broadcast here would let AQE coalesce the whole intersect
    // pipeline into one post-shuffle task (the old shape measured
    // 95 s single-task stages that way). join 2 (broadcast): the
    // sliver's set table is candidate-bounded and already counted —
    // attaching the id2 side map-side keeps the arrays' only wire
    // crossing the id1 shuffle.
    val result = p
      .join(sets.select($("doc_id").as("id1"), $("ss").as("ss1"))
        .hint("shuffle_hash"), Seq("id1"))
      .join(broadcast(sets.select($("doc_id").as("id2"), $("ss").as("ss2"))),
        Seq("id2"))
      .select($("id1"), $("id2"),
        graft.plans.SortedIntersectCountExpression
          .sortedIntersectCount($("ss1"), $("ss2")).as("common"),
        size($("ss1")).cast("long").as("sz1"),
        size($("ss2")).cast("long").as("sz2"))
      .select($("id1"), $("id2"), $("common"), $("sz1"), $("sz2"),
        ($("common").cast("double") /
          ($("sz1") + $("sz2") - $("common")).cast("double")).as("jaccard"))
      .localCheckpoint(true)
    p.unpersist(false)
    sets.unpersist(false)
    result
  }

  /** MinHash+LSH near-duplicate pairs: signatures → banded candidates
    * → exact-Jaccard verify ≥ threshold.
    *
    * The candidate path never shuffles shingles: signatures aggregate
    * the per-doc DISTINCT set map-side (array_distinct before the
    * explode — round 18; min is duplicate-idempotent so the set and
    * the occurrence stream hash identically), and the verify prunes
    * the same set to the candidate docs (jaccardFor). No corpus-wide
    * shingle shuffle, no corpus-wide shingle cache.
    */
  def minhashDupPairs(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.8, maxBucket: Int = 256): DataFrame = {
    val raw = shingles(documents, n)
    val cands = lshCandidates(minhashSignaturesFrom(raw, k), k, bands, maxBucket)
    jaccardFor(cands, raw)
      .filter($("jaccard") >= threshold)
  }

  /** Edit-distance-verified near-dup pairs — a DIFFERENT verify
    * metric from token-set Jaccard: Levenshtein distance sees
    * ORDER and small in-place edits (a shuffled bag of the same
    * tokens has Jaccard 1 but a large edit distance; a doc with one
    * character flipped per line has high shingle overlap loss but a
    * tiny edit distance), so it is the verifier of choice for
    * templated/boilerplate corpora where token sets are uninformative.
    * Candidates come from the SAME LSH front as [[minhashDupPairs]]
    * (bucket-capped, linear); the verify is
    * `levenshtein(prefix_a, prefix_b)` over the first `prefixLen`
    * normalized characters, kept when edist·1000 ≤ maxDistPermille ·
    * max(len_a, len_b). Returns (id1, id2, edist).
    *
    * Scale: the O(len²) dynamic program is bounded two ways — the
    * prefix cap makes the worst pair cost prefixLen², and Spark's
    * THRESHOLDED levenshtein (the banded O(len·maxDist) form; it
    * returns −1 when the distance exceeds the bound, and the bound
    * here is the largest passable distance maxDistPermille·prefixLen
    * /1000) prunes the band further. Only candidate pairs ever pay
    * it, and only (id, prefix) slivers shuffle — never full texts.
    * The prefix cap is a documented approximation: two docs
    * identical for `prefixLen` chars then divergent verify as dups
    * (the same contract as every bounded verifier here; raise
    * prefixLen where tails matter).
    */
  def editDistanceDupPairs(documents: DataFrame, n: Int = 5,
      k: Int = 16, bands: Int = 4, maxBucket: Int = 256,
      prefixLen: Int = 500, maxDistPermille: Int = 200): DataFrame = {
    // The verify below costs ~10^5 char ops per ROW while the
    // candidate rows are ~16 BYTES each — AQE's byte-based partition
    // coalescing (guide §2.2) funnels the whole banded-DP stage into
    // one or two post-shuffle tasks (measured at sf0.1: 22.7k pairs,
    // ~3.5 s of the query's 5.3 s wall serialized on one core). An
    // explicit deterministic repartition on the pair key pins the
    // verify's parallelism to the shuffle-partition config (AQE does
    // not coalesce user-numbered repartitions), which scales with the
    // cluster instead of with the candidate table's byte size.
    val nPart = documents.sparkSession.sessionState.conf.numShufflePartitions
    val cands = lshCandidates(
      minhashSignatures(documents, n, k), k, bands, maxBucket)
      .repartition(nPart, $("id1"), $("id2"))
      .localCheckpoint(true)
    // prefixes of CANDIDATE ENDPOINTS only, computed in ONE corpus
    // scan and attached to both pair sides as broadcasts
    // (optimization round 18, guide §2.3/§3.1): the unpruned join
    // normText-scanned the whole corpus once per side, and the join
    // exchanges carried every doc's prefix to meet a candidate table
    // that references only a sliver of them. The sliver is
    // endpoint-bounded (≤ 2·pairs rows × prefixLen chars) and the
    // broadcasts keep the levenshtein stage inside the repartitioned
    // candidate stage, so the verify's parallelism pin is unchanged.
    val ids = cands.select($("id1").as("doc_id"))
      .union(cands.select($("id2").as("doc_id"))).distinct()
    val prefixes = documents.spread()
      .join(broadcast(ids), Seq("doc_id"))
      .select($("doc_id"),
        substring(normText($("text")), 1, prefixLen).as("p"))
      .localCheckpoint(true)
    val maxDist = maxDistPermille * prefixLen / 1000
    cands
      .join(broadcast(prefixes.select($("doc_id").as("id1"),
        $("p").as("p1"))), Seq("id1"))
      .join(broadcast(prefixes.select($("doc_id").as("id2"),
        $("p").as("p2"))), Seq("id2"))
      .select($("id1"), $("id2"),
        levenshtein($("p1"), $("p2"), maxDist).cast("long").as("edist"),
        greatest(length($("p1")), length($("p2"))).cast("long").as("mlen"))
      .filter($("edist") >= 0L &&
        $("edist") * 1000 <= lit(maxDistPermille.toLong) * $("mlen"))
      .select($("id1"), $("id2"), $("edist"))
  }

  /** Connected components over the near-duplicate pair graph — the
    * step that turns pairwise dup hits into KEEP/DROP decisions (a
    * chain a~b~c must collapse to ONE canonical doc even when a~c was
    * never directly compared). Components are labeled by their
    * smallest doc_id. Returns (doc_id, component, cluster_size) for
    * every doc that appears in at least one pair.
    *
    * Algorithm: alternating large-star/small-star contraction — the
    * O(log n)-round MapReduce components algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14; public
    * literature). Each round is two equi-join + groupBy-min passes
    * over the EDGE list only — the corpus text never enters the loop —
    * and the round count is logarithmic in the largest component's
    * diameter, so even an adversarial million-node chain converges in
    * ~20 rounds (plain min-label propagation, kept as the differential
    * twin [[componentsHashToMin]], needs diameter rounds). Dup graphs
    * are overwhelmingly tiny cliques/chains, where both converge in
    * 2-4 rounds. The convergence check is a driver-side scalar per
    * round; hitting `maxRounds` without a fixpoint THROWS rather than
    * returning silently-partial labels (a wrong KEEP/DROP decision is
    * strictly worse than a failed job).
    */
  def dupClusters(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.7, maxBucket: Int = 256,
      maxRounds: Int = 30): DataFrame =
    componentsOf(
      minhashDupPairs(documents, n, k, bands, threshold, maxBucket)
        .select($("id1"), $("id2")),
      maxRounds)

  /** Cross-source duplication matrix — which sources copy from each
    * other: every near-duplicate pair ([[minhashDupPairs]]) labeled
    * with its endpoints' sources, counted per unordered source pair
    * (src1 ≤ src2; the diagonal is within-source duplication). The
    * diagnostic a curation pass reads to find mirror sites and
    * cross-crawl contamination before deciding per-source policies.
    *
    * Scale: rides the q26 candidate path unchanged; the only addition
    * is two id→source equi-joins against a (doc_id, source) projection
    * — pair-proportional, never corpus-proportional — and a tiny
    * (sources²-bounded) aggregate.
    */
  def sourceOverlap(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.7, maxBucket: Int = 256): DataFrame =
    sourceOverlapFromPairs(
      minhashDupPairs(documents, n, k, bands, threshold, maxBucket), documents)

  /** [[sourceOverlap]] over a PRECOMPUTED (id1, id2) pair table. The
    * pair graph is the expensive artifact of the dedup family — a
    * session that resolves clusters (q51), picks keeps (q72), and
    * reads the source matrix (q75) should materialize
    * [[minhashDupPairs]] ONCE (parquet at warehouse scale) and feed
    * all three consumers, not re-run the minhash pipeline per report.
    */
  def sourceOverlapFromPairs(pairs: DataFrame,
      documents: DataFrame): DataFrame = {
    val src = documents.select($("doc_id"), $("source"))
    pairs
      .join(src.select($("doc_id").as("id1"), $("source").as("s1")), Seq("id1"))
      .join(src.select($("doc_id").as("id2"), $("source").as("s2")), Seq("id2"))
      .select(least($("s1"), $("s2")).as("src1"),
        greatest($("s1"), $("s2")).as("src2"))
      .groupBy($("src1"), $("src2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-document boilerplate fraction — the RefinedWeb-style shared-
    * content signal: of a doc's distinct `n`-gram shingles, the share
    * that also appears in at least `minDf` documents corpus-wide.
    * High fractions flag template/mirror text that per-doc quality
    * scores miss. Returns (doc_id, n_shingles, n_shared, boiler_frac).
    *
    * Scale: shingles are md5-hashed to 60-bit integers BEFORE any
    * shuffle (the minhash discipline — 8-byte keys move, never
    * shingle strings): one distinct on (doc_id, h), one partial-
    * aggregated df count on h, one hash join back on h, one per-doc
    * aggregate. The df table is vocabulary-sized, not corpus-sized.
    * The ratio is integer/integer in both engines — bit-exact.
    */
  def boilerplate(documents: DataFrame, n: Int = 5, minDf: Int = 2): DataFrame =
    // the distinct per-doc set: one md5 per distinct shingle per doc
    // (the hash projection's re-distinct keeps collision semantics)
    boilerplateFrom(shingles(documents, n), minDf)

  /** [[boilerplate]] off a shingle table — occurrences or a DISTINCT
    * index both work (the hash projection re-distincts), so the
    * persisted warehouse `shingles8` store serves directly.
    */
  def boilerplateFrom(shingleTable: DataFrame, minDf: Int = 2): DataFrame = {
    val dist = shingleTable
      .select($("doc_id"),
        (conv(substring(md5($("shingle")), 1, 15), 16, 10).cast("long")
          % HashP).as("h"))
      .distinct()
    val dfh = dist.groupBy($("h")).agg(count(lit(1)).as("df"))
    dist.join(dfh, Seq("h"))
      .groupBy($("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($("df") >= minDf, 1L).otherwise(0L)).as("n_shared"))
      .select($("doc_id"), $("n_shingles"), $("n_shared"),
        ($("n_shared").cast("double") / $("n_shingles")).as("boiler_frac"))
  }

  /** KEEP/DROP resolution over the near-duplicate clusters — the final
    * dedup decision a curation pipeline actually applies: within each
    * [[dupClusters]] component keep the single "best" member (longest
    * document, ties to the smallest doc_id — the usual keep-the-
    * richest-copy policy) and drop the rest. Returns one row per
    * clustered doc: (doc_id, component, cluster_size, keep).
    *
    * Scale: the winner per component is a hash-aggregated argmax
    * (`max_by` over a (n_chars, −doc_id) struct) — no per-component
    * sort, no window over the cluster membership. Only (doc_id,
    * component, n_chars) rows move; the winner table is one row per
    * component (∝ clusters, not docs) and joins back on the component
    * key, where AQE broadcasts it in any realistic dup graph.
    */
  def clusterKeeps(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, threshold: Double = 0.7, maxBucket: Int = 256,
      maxRounds: Int = 30): DataFrame =
    clusterKeepsFromPairs(
      minhashDupPairs(documents, n, k, bands, threshold, maxBucket)
        .select($("id1"), $("id2")),
      documents, maxRounds)

  /** [[clusterKeeps]] over a PRECOMPUTED (id1, id2) pair table — see
    * [[sourceOverlapFromPairs]] for the materialize-once rationale.
    */
  def clusterKeepsFromPairs(pairs: DataFrame, documents: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val clustered = componentsOf(pairs, maxRounds)
      .join(documents.select($("doc_id"), $("n_chars")), Seq("doc_id"))
    val winners = clustered.groupBy($("component"))
      .agg(max_by($("doc_id"), struct($("n_chars"), -$("doc_id")))
        .as("keep_id"))
    clustered.join(winners, Seq("component"))
      .select($("doc_id"), $("component"), $("cluster_size"),
        ($("doc_id") === $("keep_id")).as("keep"))
  }

  /** QUALITY-weighted cluster keeps — [[clusterKeeps]] elects the
    * LONGEST member; real curation elects the HIGHEST-QUALITY one
    * (near-dup families frequently pair a clean original with a
    * boilerplate-wrapped mirror of the same length class). `labels`
    * is the (doc_id, component, cluster_size) store, `scores` any
    * per-doc integer quality signal — the NB llr (q156), the LM
    * negative perplexity, a composite — and the winner is the
    * per-component argmax under (score desc, doc_id asc). Members
    * without a score row drop (the scorer's own domain rule — e.g.
    * the NB scorer skips token-less docs); mirrored in the oracle.
    *
    * Scale: two keyed joins + one component-width max_by aggregate —
    * the [[clusterKeepsFromPairs]] shape with the signal swapped in;
    * no window sort.
    */
  def clusterKeepsByScore(labels: DataFrame, scores: DataFrame): DataFrame = {
    val clustered = labels
      .join(scores.select($("doc_id"), $("score")), Seq("doc_id"))
    val winners = clustered.groupBy($("component"))
      .agg(max_by($("doc_id"), struct($("score"), -$("doc_id")))
        .as("keep_id"))
    clustered.join(winners, Seq("component"))
      .select($("doc_id"), $("component"), $("cluster_size"), $("score"),
        ($("doc_id") === $("keep_id")).as("keep"))
  }

  /** Connected components of an (id1, id2) edge list via alternating
    * large-star/small-star (see [[dupClusters]] for the algorithm
    * citation and scale notes). Components are labeled by their
    * smallest node id; returns (doc_id, component, cluster_size) for
    * every node appearing in at least one pair.
    *
    * Round shape: edges stay oriented big→small. LARGE-STAR links every
    * strictly-larger neighbor of a node to the minimum of its
    * (undirected) neighborhood; SMALL-STAR links the node and its
    * smaller neighbors to that minimum. At the fixpoint the edge set is
    * exactly {(v, min of v's component)} — stars — which IS the label
    * assignment.
    *
    * Lineage discipline: iterative DataFrame algorithms must TRUNCATE
    * lineage each round — edges_n = f(edges_(n-1)) makes the logical
    * plan grow geometrically, and each embeds the full pair-GENERATION
    * plan (for dupClusters: the whole minhash pipeline), so Catalyst
    * re-analysis soon dominates compute (measured here: 6.5 s to
    * re-count an already-cached 477-row result; q51 was 4x q26 with
    * caching alone). `localCheckpoint` materializes the rows and
    * replaces the plan with the stored RDD — the same discipline
    * MLlib's iterative algorithms use.
    *
    * `checkpointDir`: when set, per-round truncation uses RELIABLE
    * `checkpoint` into that directory instead of `localCheckpoint` —
    * executor-stored blocks do not survive executor loss, so a
    * multi-hour 100 TB clustering run should hand a durable
    * (HDFS/object-store) path here; the local default keeps short
    * interactive runs free of filesystem writes. Checkpoint hygiene:
    * the dir is set on the SparkContext only if none is configured
    * (an existing dir wins — this never clobbers shared-session
    * state), and each round's superseded checkpoint files are
    * DELETED as soon as the next round materializes, so disk usage is
    * O(current edge set), not O(rounds). Only the final `edges` and
    * `nodes` checkpoints (which back the returned plan) survive the
    * call; the caller owns the directory itself. Superseded files are
    * identified from the checkpointed RDD ITSELF (the `LogicalRDD`
    * leaf's `getCheckpointFile`), so only files this call created can
    * ever be deleted — a concurrent reliable checkpoint by another
    * job/thread on the same SparkContext is untouched.
    */
  /** Edge-count bound under which [[componentsOf]] solves the
    * closure with a DRIVER-LOCAL union-find instead of the
    * large/small-star rounds (optimization round 18). Rationale: the
    * distributed loop costs ~5 actions PER ROUND (two join+agg
    * passes, a checkpoint, two fixpoint counts) — on the dup graphs
    * this engine actually produces (hot-bucket caps + exact-dedup
    * prepass keep them sparse; 256 edges at sf0.1) that is pure
    * driver-latency, ~20 sequential jobs for milliseconds of work.
    * A ≤ 2^20-edge list collects to ≤ 16 MB — the same
    * bounded-localization class as the centroid/codebook collects,
    * far under driver limits — and union-find with min-id labels is
    * BIT-IDENTICAL to the fixpoint's star labels. Graphs past the
    * bound take the distributed rounds unchanged (the 100 TB path:
    * edge lists there are pair-store-sized and must never collect).
    */
  private[graft] val LocalComponentsMaxEdges: Long = 1L << 20

  /** Driver-local union-find over a collected edge list — min-id
    * component labels + sizes, exactly [[componentsOf]]'s contract.
    */
  private def componentsLocal(edges: Array[(Long, Long)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are the min id of their set by construction (always union
    // larger root under smaller)
    val label = parent.keys.toSeq.map(n => n -> find(n))
    val sizes = label.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    label.sortBy(_._1)
      .map { case (n, c) => (n, c, sizes(c)) }
      .toDF("doc_id", "component", "cluster_size")
  }

  def componentsOf(pairs: DataFrame, maxRounds: Int = 30,
      checkpointDir: Option[String] = None,
      localMaxEdges: Long = LocalComponentsMaxEdges): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    val reliable = checkpointDir.isDefined
    if (reliable && sc.getCheckpointDir.isEmpty)
      sc.setCheckpointDir(checkpointDir.get)
    // one round-truncation policy for the whole run (Scaladoc above);
    // returns the truncated frame plus the exact checkpoint files it
    // created (read off the materialized RDD — never a dir listing),
    // so superseded rounds can be deleted eagerly and safely
    // each round's leaf is re-wrapped WITHOUT the origin plan's
    // statistics (ColumnBridge.freshStatsView): checkpoint carries
    // the optimized plan's size estimate into the new LogicalRDD, and
    // in a checkpoint-per-round loop that estimate COMPOUNDS through
    // the round's join products until the optimizer drowns in
    // BigInteger arithmetic (measured: a 64-round iterative loop hit
    // multi-minute driver stalls by round ~14) — at warehouse scale
    // components can legitimately need tens of rounds
    def ckpt(df: DataFrame): (DataFrame, Set[String]) =
      if (!reliable)
        (org.apache.spark.sql.graft.ColumnBridge.freshStatsView(
          df.localCheckpoint(true)), Set.empty)
      else {
        val out = df.checkpoint(true)
        (org.apache.spark.sql.graft.ColumnBridge.freshStatsView(out),
          org.apache.spark.sql.graft.ColumnBridge.checkpointFiles(out))
      }
    def drop(paths: Set[String]): Unit = if (reliable) paths.foreach { s =>
      val hp = new org.apache.hadoop.fs.Path(s)
      hp.getFileSystem(sc.hadoopConfiguration).delete(hp, true)
    }
    val (p, pCk) = ckpt(pairs.filter($("id1") =!= $("id2")))
    // size-gated local solve (see [[LocalComponentsMaxEdges]]): the
    // edge list is already materialized, so the count is free
    if (p.count() <= localMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edges = p.select($("id1").cast("long"), $("id2").cast("long"))
        .as[(Long, Long)].collect()
      val out = componentsLocal(edges, spark)
      drop(pCk)
      return out
    }
    val (nodes, _) = ckpt(p.select($("id1").as("node"))
      .union(p.select($("id2").as("node"))).distinct())
    var (edges, edgesCk) = ckpt(p
      .select(greatest($("id1"), $("id2")).as("src"),
        least($("id1"), $("id2")).as("dst"))
      .distinct())
    drop(pCk) // nodes + initial edges materialized: p is superseded
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // LARGE-STAR over the undirected view: node u's larger neighbors
      // attach to m(u) = min(neighbors(u) ∪ {u})
      val sym = edges
        .union(edges.select($("dst").as("src"), $("src").as("dst")))
      val lsMin = sym.groupBy("src").agg(min($("dst")).as("mind"))
        .select($("src"), least($("src"), $("mind")).as("m"))
      val (ls, lsCk) = ckpt(sym.join(lsMin, Seq("src"))
        .filter($("dst") > $("src"))
        .select($("dst").as("src"), $("m").as("dst"))
        .distinct())
      // SMALL-STAR: with edges big→small, grouping by src IS the
      // smaller-neighborhood view; u and its smaller neighbors attach
      // to their minimum
      val ssMin = ls.groupBy("src").agg(min($("dst")).as("m"))
      val (next, nextCk) = ckpt(ls.join(ssMin, Seq("src"))
        .select($("dst").as("src"), $("m").as("dst"))
        .union(ssMin.select($("src"), $("m").as("dst")))
        .filter($("src") =!= $("dst"))
        .distinct())
      // fixpoint test: set equality via count + one-way except (cheap
      // on checkpointed inputs)
      changed =
        if (edges.count() != next.count()) 1L
        else next.except(edges).count()
      drop(lsCk)    // intermediate of this round
      drop(edgesCk) // previous round's edge set
      edges = next
      edgesCk = nextCk
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"componentsOf did not converge within $maxRounds rounds — " +
          "component labels would be partial; raise maxRounds")
    val labels = nodes
      .join(edges.select($("src").as("node"), $("dst").as("comp")),
        Seq("node"), "left")
      .select($("node"), coalesce($("comp"), $("node")).as("comp"))
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select($("node").as("doc_id"), $("comp").as("component"), $("cluster_size"))
  }

  /** INCREMENTAL maintenance of the cluster-label store — the
    * delivery-cadence form of [[componentsOf]]: given the persisted
    * labels (doc_id, component, cluster_size) and the delivery's NEW
    * pair edges (e.g. [[jaccardPairsFold]]'s fresh rows or
    * [[incrementalNearDups]]' store hits), recompute ONLY the
    * components a new edge touches and carry every other label over
    * verbatim. fold == [[componentsOf]] over the union pair set,
    * exactly (the q51 oracle gates it), because a component's label
    * set is fully determined by its own connectivity: an old
    * component enters the recompute as its STAR EDGES (member →
    * canonical min), which preserve connectivity and minima while
    * costing O(members) rows — never the original pair list.
    *
    * Scale: the recompute subgraph is (touched components' members +
    * new pairs) — delivery-proportional when clusters are bounded
    * (the dup-graph norm; a corpus-sized component would mean the
    * corpus is one giant near-dup family, which the hot-bucket caps
    * and exact-dedup prepass exist to prevent). Untouched labels
    * never shuffle more than the one anti-join that skips them. A
    * delivery merging two old components relabels both to the joint
    * minimum — exactly what from-scratch sees.
    */
  def componentsFold(labels: DataFrame, newPairs: DataFrame,
      maxRounds: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val np = newPairs.select($("id1"), $("id2"))
      .filter($("id1") =!= $("id2"))
    val touchedIds = np.select($("id1").as("doc_id"))
      .union(np.select($("id2").as("doc_id"))).distinct()
    val touchedComps = labels.join(touchedIds, Seq("doc_id"))
      .select($("component")).distinct()
      .localCheckpoint(true)
    val affected = labels.join(touchedComps, Seq("component"))
    // star edges preserve the affected components' connectivity at
    // O(members); the canonical min reaches the recompute as every
    // member's edge target (components have >= 2 members, so at
    // least one non-self edge always exists)
    val starEdges = affected.filter($("doc_id") =!= $("component"))
      .select($("doc_id").as("id1"), $("component").as("id2"))
    val recomputed = componentsOf(starEdges.union(np), maxRounds,
      checkpointDir)
    labels.join(touchedComps, Seq("component"), "left_anti")
      .select($("doc_id"), $("component"), $("cluster_size"))
      .unionByName(recomputed)
  }

  /** TAKEDOWN of the cluster-label store — [[componentsFold]]'s
    * inverse, in two keyed steps:
    *
    *  1. components holding a removed doc are recomputed from the
    *     PRIOR pairs among survivors (removal can SPLIT a component,
    *     so star edges through a removed canonical would be wrong —
    *     the recompute reads real edges); every other label carries
    *     over verbatim. The slice semi-joins on either endpoint, so
    *     it stays correct even against a drifted label store.
    *  2. pairs the maintained store RE-ADMITTED on removal (df cuts
    *     and bucket caps are monotone under shrinkage — a takedown
    *     can only ADD candidacies among survivors, which is how
    *     [[jaccardPairsRetract]] re-pairs uncrossed shingles) fold in
    *     as new edges via [[componentsFold]] — they may connect
    *     components the removal never touched.
    *
    * retract == [[componentsOf]] over the retracted pair store,
    * exactly (q51's closure SQL over the survivors gates it), under
    * the store family's monotonicity contract: prior pairs between
    * survivors stay in the store (true for every df-cut/bucket-cap
    * family here — removal only shrinks frequencies). Survivors of a
    * touched component that lose their last pair leave the label
    * store — exactly where from-scratch stops listing them. A
    * removed id absent from the labels is a legal no-op (docs
    * outside any dup cluster never had a label row).
    *
    * Scale: every step is keyed on ids/components of the touched
    * slice or on the re-admitted delta — never a label-store or
    * pair-store scan beyond one anti-join each.
    */
  def componentsRetract(labels: DataFrame, priorPairs: DataFrame,
      survivingPairs: DataFrame, removedIds: DataFrame,
      maxRounds: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    val rm = removedIds.select($("doc_id")).localCheckpoint(true)
    val touchedComps = labels.join(rm, Seq("doc_id"))
      .select($("component")).distinct()
      .localCheckpoint(true)
    // prior pairs among survivors, sliced to the touched components.
    // The slice semi-joins on EITHER endpoint: under the documented
    // invariant (labels == componentsOf(priorPairs)) both endpoints of
    // a prior pair share a component and one side would suffice, but an
    // out-of-sync label store must not silently drop a pair whose only
    // affected endpoint is id2 — the distinct() collapses pairs matched
    // on both sides and runs over the touched slice only
    val priorSurviving = priorPairs.select($("id1"), $("id2"))
      .join(rm.select($("doc_id").as("id1")), Seq("id1"), "left_anti")
      .join(rm.select($("doc_id").as("id2")), Seq("id2"), "left_anti")
    val affectedIds = labels.join(touchedComps, Seq("component"))
      .select($("doc_id")).localCheckpoint(true)
    val slice = priorSurviving
      .join(affectedIds.select($("doc_id").as("id1")), Seq("id1"), "left_semi")
      .unionByName(priorSurviving
        .join(affectedIds.select($("doc_id").as("id2")), Seq("id2"),
          "left_semi"))
      .distinct()
    val intermediate = labels
      .join(touchedComps, Seq("component"), "left_anti")
      .select($("doc_id"), $("component"), $("cluster_size"))
      .unionByName(componentsOf(slice, maxRounds, checkpointDir))
    val readmitted = survivingPairs.select($("id1"), $("id2"))
      .join(priorPairs.select($("id1"), $("id2")),
        Seq("id1", "id2"), "left_anti")
    componentsFold(intermediate, readmitted, maxRounds, checkpointDir)
  }

  /** Plain min-label propagation (hash-to-min) — converges in
    * graph-DIAMETER rounds (vs componentsOf's O(log n)); kept as the
    * independent differential twin for the property tests. Same
    * output contract and the same non-convergence throw.
    */
  private[graft] def componentsHashToMin(pairs: DataFrame,
      maxRounds: Int = 20): DataFrame = {
    val p = pairs.localCheckpoint(true)
    val edges = p.select($("id1").as("src"), $("id2").as("dst"))
      .union(p.select($("id2").as("src"), $("id1").as("dst")))
    var labels = edges.select($("src").as("node"), $("src").as("comp"))
      .distinct().localCheckpoint(true)
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // neighbor labels: edge (src,dst) contributes dst's comp to src
      val fromNeighbors = edges
        .join(labels.select($("node").as("dst"), $("comp")), Seq("dst"))
        .select($("src").as("node"), $("comp"))
      val next = org.apache.spark.sql.graft.ColumnBridge.freshStatsView(
        labels.select($("node"), $("comp")).union(fromNeighbors)
          .groupBy("node").agg(min($("comp")).as("comp"))
          .localCheckpoint(true))
      changed = next.join(labels.withColumnRenamed("comp", "old"), Seq("node"))
        .filter($("comp") =!= $("old")).count()
      labels = next
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"componentsHashToMin did not converge within $maxRounds rounds")
    val sizes = labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("comp"))
      .select($("node").as("doc_id"), $("comp").as("component"), $("cluster_size"))
  }

  /** n-gram Jaccard near-dup pairs WITHOUT minhash: inverted shingle
    * index, document-frequency stopword cut (shingles in > maxDf docs
    * are dropped — bounds bucket sizes at scale), pair counting, then
    * the same integer-exact Jaccard. At 100 TB this is the
    * shuffle-heavy exact variant; minhashDupPairs is the cheap one.
    */
  def ngramJaccardPairs(documents: DataFrame, n: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame =
    ngramJaccardFromShingles(shingles(documents, n), threshold, maxDf)

  /** [[ngramJaccardPairs]] over a PRECOMPUTED distinct (doc_id,
    * shingle) table — the [[sourceOverlapFromPairs]] pattern applied
    * to the dedup family's OTHER expensive artifact: the distinct
    * shingle index. q27's standalone cost is dominated by re-deriving
    * (explode + corpus-wide distinct) the same table that q43/q93's
    * decontamination legs also derive; a session that runs more than
    * one shingle consumer should materialize [[shingles]] once
    * (parquet at warehouse scale — the warehouse 'pair' family does
    * exactly this) and feed them all.
    *
    * ROLE (round-14): this from-scratch build is the OFFLINE REBUILD
    * of the verified-pair store — run it once per warehouse (or for
    * reconciliation); per-delivery maintenance is
    * [[jaccardPairsFold]] and compliance removal is
    * [[jaccardPairsRetract]], both hash-gated equal to this rebuild
    * (q186/q187) at a fraction of its exchange volume (BASELINE.md
    * round-14 fold-vs-rebuild table).
    */
  /** The df-cut rare-shingle index: drop every shingle held by more
    * than `maxDf` docs. Computed as a broadcast ANTI-join against the
    * HOT set rather than an equi-join against the rare set
    * (optimization round 18, guide §2.4): the rare set is nearly the
    * whole distinct index (re-shuffling it to join was a full
    * index-sized exchange per call), while the hot set is bounded by
    * |index| / maxDf shingles BY DEFINITION (each holds > maxDf
    * rows), i.e. ≤ 1% of the distinct index at the default cut —
    * broadcastable at any corpus size where the index itself is a
    * sane warehouse artifact. Same output set either way.
    */
  private def rareOnly(sh0: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter($("df") > maxDf).select("shingle")
    sh0.join(broadcast(hot), Seq("shingle"), "left_anti")
  }

  def ngramJaccardFromShingles(shingleSet: DataFrame,
      threshold: Double = 0.5, maxDf: Int = 100): DataFrame = {
    val sh0 = shingleSet
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // repartition on the join key BEFORE the two projection legs: the
    // self-join's sides then share one identical exchange subtree and
    // ReusedExchange materializes it once (round 18, guide §2.4 "two
    // operations keyed the same way can share one exchange") — the
    // old per-leg projections made the exchanges differ and the rare
    // index crossed the wire twice
    val sh = rareOnly(sh0, maxDf).repartition($("shingle"))
    val pairs = sh.select($("shingle"), $("doc_id").as("id1"))
      .join(sh.select($("shingle"), $("doc_id").as("id2")), Seq("shingle"))
      .filter($("id1") < $("id2"))
      .select("id1", "id2").distinct()
    // verify against the FULL shingle sets (df-cut only prunes the
    // candidate generation, not the similarity definition); jaccardFor
    // materializes its result eagerly, so the index cache can drop here
    val verified = jaccardFor(pairs, sh0)
    sh0.unpersist(false)
    verified.filter($("jaccard") >= threshold)
  }

  /** INCREMENTAL maintenance of the VERIFIED-PAIR STORE — the exact
    * n-gram Jaccard family's ([[ngramJaccardFromShingles]], q27)
    * answer to "don't rebuild the pair table per delivery": fold a
    * delivery's shingles into an accumulated store and return the
    * pair table a FROM-SCRATCH build over the grown corpus would
    * produce (the contract entry is hash-gated by q27's own SQL over
    * the union), at delivery-proportional cost.
    *
    * The subtlety is the df≤`maxDf` candidate cut: it bounds pair
    * generation but makes candidacy CORPUS-DEPENDENT. On append,
    * document frequencies only grow, so (a) brand-new candidate
    * pairs all have ≥ 1 delivery endpoint — generated here by
    * probing the delivery's rare-shingle rows against the unioned
    * rare index, never an all-pairs pass; and (b) a STORED pair can
    * LOSE candidacy when every rare shingle it shared CROSSES the
    * cut. Crossing shingles had df ≤ maxDf before the fold, so the
    * at-risk sliver is bounded (≤ maxDf·(maxDf+1)/2 pairs per crossed
    * shingle); each at-risk pair is re-probed for any still-rare
    * shared shingle and dropped only when none remains — exactly
    * from-scratch's verdict. Verification always runs against FULL
    * shingle sets (the cut prunes candidacy, not similarity), so
    * surviving pairs' jaccard values carry over unchanged (pair-local,
    * corpus-independent).
    *
    * Inputs: `storePairs` = the store's (id1, id2, jaccard) table
    * (a prior [[ngramJaccardFromShingles]] / fold output);
    * `storeShingles` / `deliveryShingles` = DISTINCT (doc_id,
    * shingle) tables ([[shingles]]); delivery doc_ids must be new to
    * the store (exactly-once is the caller's, the
    * [[graft.operators.Curation.updatedSubManifest]] convention).
    *
    * Scale: the delivery probe moves delivery-shingle rows × a
    * ≤ maxDf fan-out; the crossed/at-risk legs move cap-bounded
    * slivers; the only corpus-sized inputs are the df re-count (one
    * map-side-combined aggregate — the store index a warehouse keeps
    * anyway) and the verify probes, which [[jaccardFor]] bounds to
    * pair-sliver rows. Nothing rebuilds the all-pairs table.
    */
  def jaccardPairsFold(storePairs: DataFrame, storeShingles: DataFrame,
      deliveryShingles: DataFrame, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    val shAll = storeShingles.unionByName(deliveryShingles)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val df0 = storeShingles.groupBy("shingle")
      .agg(count(lit(1)).as("df0"))
    val dfd = deliveryShingles.groupBy("shingle")
      .agg(count(lit(1)).as("dfd"))
    val dfs = df0.join(dfd, Seq("shingle"), "full_outer")
      .select($("shingle"),
        coalesce($("df0"), lit(0L)).as("df0"),
        (coalesce($("df0"), lit(0L)) + coalesce($("dfd"), lit(0L)))
          .as("df1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare1 = dfs.filter($("df1") <= maxDf).select("shingle")
    // the unioned rare index is probed FOUR times below (both
    // new-candidate legs, both still-candidate legs) — persist the
    // join once instead of re-running the corpus-sized union+join
    // per reference (optimization round 18, guide §1.2)
    val shr = shAll.join(rare1, Seq("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // new candidates: ≥ 1 delivery endpoint, probing the delivery's
    // rare rows against the unioned rare index (both orientations via
    // least/greatest — the delivery doc may be either side of id1<id2)
    val delivDocs = deliveryShingles.select("doc_id").distinct()
    val newCands = shr.join(delivDocs, Seq("doc_id"))
      .select($("shingle"), $("doc_id").as("d"))
      .join(shr.select($("shingle"), $("doc_id").as("o")), Seq("shingle"))
      .filter($("d") =!= $("o"))
      .select(least($("d"), $("o")).as("id1"),
        greatest($("d"), $("o")).as("id2"))
      .distinct()
    val newVerified = jaccardFor(newCands, shAll)
      .filter($("jaccard") >= threshold)
    // stored pairs at risk: they share a shingle that crossed the cut
    val crossed = dfs.filter($("df0") <= maxDf && $("df1") > maxDf)
      .select("shingle")
    val crossedHolders = storeShingles.join(crossed, Seq("shingle"))
    val crossedPairs = crossedHolders
      .select($("shingle"), $("doc_id").as("id1"))
      .join(crossedHolders.select($("shingle"), $("doc_id").as("id2")),
        Seq("shingle"))
      .filter($("id1") < $("id2"))
      .select("id1", "id2").distinct()
    val atRisk = storePairs.select("id1", "id2")
      .join(crossedPairs, Seq("id1", "id2"), "left_semi")
    val stillCand = atRisk
      .join(shr.select($("doc_id").as("id1"), $("shingle")), Seq("id1"))
      .join(shr.select($("doc_id").as("id2"), $("shingle")),
        Seq("id2", "shingle"))
      .select("id1", "id2").distinct()
    val dropped = atRisk.join(stillCand, Seq("id1", "id2"), "left_anti")
    val out = storePairs
      .join(dropped, Seq("id1", "id2"), "left_anti")
      .select("id1", "id2", "jaccard")
      .unionByName(newVerified)
      .localCheckpoint(true)
    shAll.unpersist(false); dfs.unpersist(false); shr.unpersist(false)
    out
  }

  /** TAKEDOWN of the verified-pair store — [[jaccardPairsFold]]'s
    * inverse: retract `removedIds` and return the pair table a
    * from-scratch build over the SURVIVORS would produce (the
    * contract entry is gated by q27's SQL over the surviving slice).
    * Pairs with a removed endpoint anti-join away; and since document
    * frequencies only SHRINK on removal, shingles can cross back
    * UNDER the df cut, creating candidacies from-scratch would see —
    * each uncrossed shingle's surviving holders (≤ maxDf by
    * definition of uncrossing) pair up, are de-duplicated against
    * the kept store, and exact-verified against surviving shingle
    * sets. Kept pairs' candidacy is monotone-safe (their rare shared
    * shingle only gets rarer), so nothing else needs re-probing.
    *
    * Scale: removal anti-joins + one df re-count + cap-bounded
    * uncrossed slivers — surviving corpus text is never re-read
    * (shingle tables are the inputs), matching the tdn_* store-fold
    * discipline.
    */
  def jaccardPairsRetract(storePairs: DataFrame, storeShingles: DataFrame,
      removedIds: DataFrame, threshold: Double = 0.5,
      maxDf: Int = 100): DataFrame = {
    val removed = removedIds.select("doc_id")
    val shSurv = storeShingles.join(removed, Seq("doc_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = storePairs
      .join(removed.select($("doc_id").as("id1")), Seq("id1"), "left_anti")
      .join(removed.select($("doc_id").as("id2")), Seq("id2"), "left_anti")
      .select("id1", "id2", "jaccard")
    val df0 = storeShingles.groupBy("shingle").agg(count(lit(1)).as("df0"))
    val df2 = shSurv.groupBy("shingle").agg(count(lit(1)).as("df2"))
    val uncrossed = df0.join(df2, Seq("shingle"))
      .filter($("df0") > maxDf && $("df2") <= maxDf)
      .select("shingle")
    val holders = shSurv.join(uncrossed, Seq("shingle"))
    val cands = holders.select($("shingle"), $("doc_id").as("id1"))
      .join(holders.select($("shingle"), $("doc_id").as("id2")),
        Seq("shingle"))
      .filter($("id1") < $("id2"))
      .select("id1", "id2").distinct()
      .join(base.select("id1", "id2"), Seq("id1", "id2"), "left_anti")
    val newVerified = jaccardFor(cands, shSurv)
      .filter($("jaccard") >= threshold)
    val out = base.unionByName(newVerified).localCheckpoint(true)
    shSurv.unpersist(false)
    out
  }

  /** Asymmetric near-dup detection by shingle CONTAINMENT:
    * C = |A∩B| / min(|A|, |B|) — the excerpt/quote detector. Symmetric
    * Jaccard ([[ngramJaccardPairs]]) goes to zero when a short
    * document is wholly contained in a much longer one (|A∩B|/|A∪B| ≈
    * |A|/|B|), which is exactly the shape of quoted articles, pull-out
    * summaries, and boilerplate-wrapped mirrors; containment stays at
    * 1.0 there. Same candidate generation (df-capped rare-shingle
    * buckets) and the same exact verify machinery
    * ([[jaccardDetailFor]]) — only the final ratio differs, so a
    * pipeline materializing the shingle index pays one extra
    * projection to get both reports.
    *
    * Returns (id1, id2, common, sz1, sz2, containment) for pairs at or
    * above `threshold` (id1 < id2; the SMALLER set is the contained
    * side by construction of the min).
    */
  def ngramContainmentPairs(documents: DataFrame, n: Int = 5,
      threshold: Double = 0.6, maxDf: Int = 100): DataFrame =
    ngramContainmentFromShingles(shingles(documents, n), threshold, maxDf)

  /** [[ngramContainmentPairs]] over a PRECOMPUTED distinct (doc_id,
    * shingle) table — the [[ngramJaccardFromShingles]] pattern: a
    * session materializing the shingle index feeds Jaccard AND
    * containment from the same artifact (the warehouse 'pair' family
    * builds both).
    */
  def ngramContainmentFromShingles(shingleSet: DataFrame,
      threshold: Double = 0.6, maxDf: Int = 100): DataFrame = {
    val sh0 = shingleSet
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // shared-exchange self-join — see ngramJaccardFromShingles
    val sh = rareOnly(sh0, maxDf).repartition($("shingle"))
    val pairs = sh.select($("shingle"), $("doc_id").as("id1"))
      .join(sh.select($("shingle"), $("doc_id").as("id2")), Seq("shingle"))
      .filter($("id1") < $("id2"))
      .select("id1", "id2").distinct()
    val detail = jaccardDetailFor(pairs, sh0)
    sh0.unpersist(false)
    detail
      .select($("id1"), $("id2"), $("common"), $("sz1"), $("sz2"),
        ($("common").cast("double") /
          least($("sz1"), $("sz2")).cast("double")).as("containment"))
      .filter($("containment") >= threshold)
  }

  /** Cross-source containment matrix — which crawl QUOTES which:
    * [[ngramContainmentPairs]] aggregated per (container source,
    * contained source), where the contained side is the pair's
    * smaller shingle set (ties → both directions are the same doc
    * size; attribute to the lexicographically first source—the
    * deterministic tie rule). [[sourceOverlap]] counts symmetric
    * near-dups; this is its DIRECTED sibling that separates "B
    * excerpts A" from "A and B mirror each other".
    */
  def sourceContainmentMatrix(documents: DataFrame, n: Int = 5,
      threshold: Double = 0.6, maxDf: Int = 100): DataFrame =
    sourceContainmentMatrixFromPairs(
      ngramContainmentPairs(documents, n, threshold, maxDf), documents)

  /** [[sourceContainmentMatrix]] over PRECOMPUTED containment pairs —
    * the composed-pipeline form: derive the pairs once
    * ([[ngramContainmentFromShingles]] off the materialized shingle
    * index), then both the pair report and this matrix are
    * pair-sliver-priced (q147 serves it from the warehouse).
    */
  def sourceContainmentMatrixFromPairs(pairs: DataFrame,
      documents: DataFrame): DataFrame = {
    val src = documents.select($("doc_id"), $("source"))
    pairs
      .join(src.select($("doc_id").as("id1"), $("source").as("src1")), Seq("id1"))
      .join(src.select($("doc_id").as("id2"), $("source").as("src2")), Seq("id2"))
      // contained = smaller set; container = larger; equal sizes tie
      // to (id1=contained, id2=container), already deterministic
      .select(
        when($("sz1") < $("sz2"), $("src2")).otherwise(
          when($("sz2") < $("sz1"), $("src1"))
            .otherwise(greatest($("src1"), $("src2")))).as("container_src"),
        when($("sz1") < $("sz2"), $("src1")).otherwise(
          when($("sz2") < $("sz1"), $("src2"))
            .otherwise(least($("src1"), $("src2")))).as("contained_src"))
      .groupBy($("container_src"), $("contained_src"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash-32 per document: per token, 32 bits from the first 8 hex
    * chars of md5(token); bit j contributes +1/−1 to counter j; the
    * sign vector is packed into a BIGINT. Near-dups differ in few bits
    * (Hamming).
    *
    * Computed by the custom codegen'd Catalyst expression
    * [[graft.plans.SimHash32Expression]] — ONE per-row pass, no
    * explode, no shuffle. Docs with an empty normalized text are
    * dropped (parity with the aggregate formulation, which loses them
    * in the explode).
    */
  def simhashes(documents: DataFrame): DataFrame = {
    import graft.plans.SimHash32Expression.simhash32
    documents
      .spread()
      .select($("doc_id"), normText($("text")).as("norm"))
      .filter(length($("norm")) > 0)
      .select($("doc_id"), simhash32(split($("norm"), " ")).as("simhash"))
  }

  /** SimHash near-duplicate pairs: all (id1 < id2) with Hamming
    * distance ≤ maxDist between 32-bit simhashes.
    *
    * Banding: the signature splits into 4 chunks of 8 bits; by
    * pigeonhole, any pair within Hamming distance ≤ 3 shares at least
    * one exact chunk, so an equi-join on (band, chunk) finds ALL such
    * pairs (complete for maxDist ≤ 3; candidates for larger maxDist
    * lose completeness). Verify = `bit_count(xor)` — one integer
    * instruction per pair. The same hot-bucket cap as lshCandidates
    * bounds a degenerate chunk value (mass-duplicated template corpus)
    * to linear candidate counts.
    */
  def simhashDupPairs(documents: DataFrame, maxDist: Int = 3,
      maxBucket: Int = 1024): DataFrame = {
    val sig = simhashes(documents)
    val banded = sig.select($("doc_id"), $("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright($("simhash"), b * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band", "chunk")))
    val ok = banded.groupBy("band", "chunk")
      .agg(count(lit(1)).as("bsz"))
      .filter($("bsz") <= maxBucket)
      .select("band", "chunk")
    val bounded = banded.join(ok, Seq("band", "chunk"))
    val a = bounded.select($("band"), $("chunk"),
      $("doc_id").as("id1"), $("simhash").as("s1"))
    val b = bounded.select($("band"), $("chunk"),
      $("doc_id").as("id2"), $("simhash").as("s2"))
    a.join(b, Seq("band", "chunk"))
      .filter($("id1") < $("id2"))
      .dropDuplicates("id1", "id2")
      .select($("id1"), $("id2"),
        bit_count($("s1").bitwiseXOR($("s2"))).cast("long").as("hamming"))
      .filter($("hamming") <= maxDist)
  }

  /** The composed-expression formulation of simhashes (explode →
    * 32 conditional-sum aggregates → pack): kept as the differential
    * test oracle for the custom expression.
    */
  private[graft] def simhashesViaAggregate(documents: DataFrame): DataFrame = {
    val toks = documents
      .spread()
      .select($("doc_id"), explode(split(normText($("text")), " ")).as("tok"))
      .filter(length($("tok")) > 0)
      .withColumn("h", md5($("tok")))
    // hex nibble at position p (1-based) as int 0..15
    def nib(p: Int): Column = conv(substring($("h"), p, 1), 16, 10).cast("int")
    // bit j (0..31): nibble p = j/4 + 1, bit within nibble = 3 - j%4
    def bit(j: Int): Column = shiftright(nib(j / 4 + 1), 3 - j % 4) % 2
    val contribs = (0 until 32).map(j =>
      sum(bit(j) * 2 - 1).as(s"c$j"))
    val counters = toks.groupBy("doc_id").agg(contribs.head, contribs.tail: _*)
    val packed = (0 until 32).map(j =>
      when(col(s"c$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    counters.select($("doc_id"), packed.as("simhash"))
  }

  /** Degree histogram of a dup-pair graph: how many nodes have k
    * near-dup partners. The graph-health table read before running
    * [[componentsOf]] — a heavy tail here predicts giant components
    * (template/boilerplate families) and tells a pipeline to raise
    * the Jaccard threshold or pre-split before clustering.
    *
    * Scale: input is the pair graph (already sliver-sized relative to
    * the corpus); two key-only aggregates — (node, degree) then
    * (degree, n_nodes) — nothing row-proportional to the corpus
    * moves. Composes with [[minhashDupPairs]] materialized once (see
    * PLANS.md on pair-graph reuse).
    */
  def pairDegreeHistogram(pairs: DataFrame): DataFrame =
    pairs.select($("id1").as("node"))
      .union(pairs.select($("id2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .select($("degree").cast("long").as("degree"),
        $("n_nodes").cast("long").as("n_nodes"))

  /** [[clusterKeepsFromPairs]] with the winner chosen by CENTRALITY
    * instead of length: connected components + [[pairPageRank]] over
    * ONE materialized pair table, canonical = the component's highest-
    * rank node (ties to the smallest doc_id — a total order). In a
    * mirror-site star the original is the hub every variant links to;
    * the longest-text rule would keep whichever mirror appended the
    * most boilerplate.
    *
    * Scale: both consumers (closure, rank) read the same
    * localCheckpointed pair sliver — the materialize-once discipline
    * of the warehouse consumers; the winner election is a
    * component-keyed max_by hash aggregate, no window sort.
    */
  def canonicalByRank(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    val p = pairs.select($("id1"), $("id2")).localCheckpoint(true)
    val m = componentsOf(p, maxRounds).join(pairPageRank(p), Seq("doc_id"))
    val winners = m.groupBy($("component"))
      .agg(max_by($("doc_id"), struct($("pr_micro"), -$("doc_id")))
        .as("keep_id"))
    val result = m.join(winners, Seq("component"))
      .select($("doc_id"), $("component"), $("cluster_size"),
        $("pr_micro"), ($("doc_id") === $("keep_id")).as("canonical"))
      .localCheckpoint(true)
    p.unpersist(false)
    result
  }

  /** PageRank centrality over the (id1, id2) dup-pair graph, fixed
    * iteration count — the "which copy is the hub?" read before
    * choosing a cluster's canonical document: in a near-dup cluster
    * the highest-rank node is the version most other variants point
    * at (mirror topologies are stars around the original), a
    * centrality-based alternative to [[clusterKeepsFromPairs]]'s
    * longest-text rule.
    *
    * Exact-integer PageRank (the repo's determinism discipline —
    * float PageRank would drift across engines): ranks live in micro
    * units, pr₀ = 1e6, and each iteration computes
    * pr'(v) = 150000 + (85 · Σ_{u∼v} (pr(u) div deg(u))) div 100
    * with BIGINT floor divisions — damping 0.85 with per-node
    * teleport mass (1−d)·1e6. Every node of the undirected pair
    * graph has degree ≥ 1 and ≥ 1 in-edge, so no dangling-mass term.
    *
    * Scale: `iters` is FIXED (default 3 — cluster-local centrality
    * converges fast on near-dup topologies; this is a ranking read,
    * not a convergence solver), so the plan is iters joins of the
    * edge list against a (node, pr) sliver plus one key-width
    * groupBy each — the [[componentsOf]] shape without the
    * variable-round loop. Each round localCheckpoints so the lineage
    * stays flat; edges are re-read per round (at warehouse scale,
    * persist or pre-bucket the edge table by src to co-locate every
    * round's join).
    */
  def pairPageRank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    // normalize defensively: duplicate pair rows or both (a,b)/(b,a)
    // orientations in the input would silently inflate degrees and
    // shift every rank (and canonicalByRank's winner election). The
    // least/greatest + distinct is a no-op on the already-canonical
    // id1<id2 pairs the dedup family emits, and one cheap exchange
    // relative to the rank iterations for anything else.
    val norm = pairs
      .select(least($("id1"), $("id2")).as("id1"),
        greatest($("id1"), $("id2")).as("id2"))
      .distinct()
    val edges = norm.select($("id1").as("src"), $("id2").as("dst"))
      .unionByName(norm.select($("id2").as("src"), $("id1").as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy($("src")).agg(count(lit(1)).as("deg"))
    var pr = deg.select($("src").as("id"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      pr = edges
        .join(deg, Seq("src"))
        .join(pr, edges("src") === pr("id"))
        .select($("dst"), expr("pr div deg").as("contrib"))
        .groupBy($("dst"))
        .agg(sum($("contrib")).as("s"))
        .select($("dst").as("id"),
          expr("150000 + (85 * s) div 100").cast("long").as("pr"))
        .localCheckpoint(true)
      // stats reset per round — see componentsOf's ckpt note
      pr = org.apache.spark.sql.graft.ColumnBridge.freshStatsView(pr)
    }
    pr.select($("id").as("doc_id"), $("pr").as("pr_micro"))
  }

  /** Incremental exact dedup of a NEW batch against an accumulated
    * fingerprint index — the streaming-ingest shape of
    * [[exactDuplicates]]: a crawl pipeline never re-dedups the whole
    * corpus per delivery, it checks each batch against the store of
    * fingerprints already admitted. Classifies every batch doc:
    * `dup_of_index` (fingerprint already admitted), `dup_in_batch`
    * (first seen in THIS batch under a smaller doc_id), or `new`.
    * Returns (doc_id, fp, status).
    *
    * `index` needs only an `fp` column; `batch` needs (doc_id, fp) —
    * fingerprint upstream with [[TextAnalysis.fingerprint]] so only
    * 32-char keys ever move, never text.
    *
    * Scale: the within-batch first-occurrence is a map-side-combined
    * `min`; the index probe is one equi-join on fp. In production the
    * index is the accumulated fingerprint store, and batch-vs-index
    * size means AQE broadcasts the batch side when deliveries are
    * small. The
    * streaming twin of the same decision is
    * [[graft.streaming.DocStreams]]' dropDuplicates state.
    */
  def incrementalDedup(index: DataFrame, batch: DataFrame): DataFrame = {
    val idx = index.select($("fp")).distinct()
      .withColumn("in_index", lit(true))
    val first = batch.groupBy("fp").agg(min($("doc_id")).as("first_id"))
    batch.join(first, Seq("fp"))
      .join(idx, Seq("fp"), "left")
      .select($("doc_id"), $("fp"),
        when($("in_index"), lit("dup_of_index"))
          .when($("doc_id") =!= $("first_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
  }

  /** Signature-ESTIMATED Jaccard for the LSH candidate pairs: the
    * fraction of agreeing MinHash components, E[n_agree/k] = true
    * Jaccard — the estimator a 100 TB pipeline actually thresholds
    * on, because it needs NO shingle-set verify join at all: once
    * signatures exist, every candidate pair is scored from 2·k
    * BIGINTs. [[minhashDupPairs]] is the exact-verified variant; this
    * is the cheap one (±1/√k standard error, k=16 → ±0.25 — wide, so
    * production raises k for tight thresholds). Returns (id1, id2,
    * n_agree, est_jaccard).
    *
    * Scale: signatures are computed once (persisted — they fan into
    * the banding AND both probe legs) and the probes are equi-joins
    * on doc_id carrying k BIGINTs per row; nothing
    * shingle-proportional moves after the signature aggregate. The
    * integer/integer ratio is bit-exact cross-engine.
    */
  def estimatedJaccardPairs(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, maxBucket: Int = 256): DataFrame = {
    val sigs = minhashSignaturesFrom(shingles(documents, n), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    val cands = lshCandidates(sigs, k, bands, maxBucket)
    val result = agreeScores(cands, sigs, sigs, k)
      .withColumn("est_jaccard", $("n_agree").cast("double") / k)
      .localCheckpoint(true)
    sigs.unpersist(false)
    result
  }

  /** (id1, id2, n_agree) — per candidate pair, the count of agreeing
    * signature components; the two sides may come from DIFFERENT
    * signature tables (incremental index vs batch). Shared by
    * [[estimatedJaccardPairs]], [[incrementalNearDups]], and the q98
    * calibration.
    */
  private[graft] def agreeScores(cands: DataFrame, sigs1: DataFrame,
      sigs2: DataFrame, k: Int): DataFrame = {
    val a = sigs1.select($("doc_id").as("id1") +:
      (0 until k).map(i => col(f"sig$i%02d").as(f"a$i%02d")): _*)
    val b = sigs2.select($("doc_id").as("id2") +:
      (0 until k).map(i => col(f"sig$i%02d").as(f"b$i%02d")): _*)
    val agree = (0 until k).map(i =>
      when(col(f"a$i%02d") === col(f"b$i%02d"), 1L).otherwise(0L))
      .reduce(_ + _)
    cands.join(a, Seq("id1")).join(b, Seq("id2"))
      .select($("id1"), $("id2"), agree.as("n_agree"))
  }

  /** Incremental NEAR-dup detection of a new batch against an
    * accumulated SIGNATURE index — the [[incrementalDedup]] analogue
    * for near-duplicates, and the reason MinHash signatures ARE the
    * dedup index at scale: admitted docs are represented by k BIGINTs
    * each (their shingle sets are gone), so the batch is scored
    * against the store with the verify-free estimator of
    * [[estimatedJaccardPairs]]. Returns (id1 = indexed doc, id2 =
    * batch doc, n_agree, est_jaccard) for pairs sharing ≥ 1 LSH band
    * with n_agree ≥ minAgree.
    *
    * `index` and `batch` are signature tables (doc_id, sig00..) —
    * produce them with [[minhashSignatures]]; a production pipeline
    * appends the admitted batch signatures to the store after each
    * delivery.
    *
    * Scale: band hashes derive narrowly from each side; the hot-bucket
    * cap is computed on the INDEX side (the side that accumulates —
    * a template family in the store would otherwise make every future
    * delivery quadratic against it) and the probe is an equi-join on
    * (band, bhash) — batch-proportional, never index-rescanning. The
    * scorer joins carry k BIGINTs per doc.
    */
  def incrementalNearDups(index: DataFrame, batch: DataFrame, k: Int = 16,
      bands: Int = 4, maxBucket: Int = 256, minAgree: Int = 8): DataFrame =
    incrementalNearDupsFrom(bucketStats(index, k, bands), index, batch,
      k, bands, maxBucket, minAgree)

  /** Per-bucket LSH statistics of a signature store — (band, bhash,
    * bsz, id1) with bsz the member count and id1 the bucket's
    * smallest doc_id (the star probe's canonical doc). This is the
    * aggregation [[incrementalNearDups]] and [[hotBucketProbe]] both
    * need; persisting it next to the signature store turns their
    * per-delivery store-sized groupBy into a read of a table that is
    * #distinct-buckets sized and FOLDABLE (ADVICE round-14):
    * member counts sum and minima fold on append
    * ([[bucketStatsFold]]), and takedown retracts by keyed merge with
    * the minimum repaired only in buckets that lost it
    * ([[bucketStatsRetract]]).
    */
  def bucketStats(sigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame =
    bandHashes(sigs, k, bands)
      .groupBy("band", "bhash")
      .agg(count(lit(1)).as("bsz"), min($("doc_id")).as("id1"))

  /** Fold a delivery's signatures into a persisted [[bucketStats]]
    * table: counts are additive and minima fold (min of mins), so the
    * new store is a (band, bhash)-keyed merge of the old table with
    * the DELIVERY's own bucket stats — delivery-proportional work
    * plus a merge over the store table, never a re-aggregation of the
    * signature store itself. Exactness: fold == [[bucketStats]] over
    * the unioned signatures, which is the oracle gate (q195).
    */
  def bucketStatsFold(store: DataFrame, deliverySigs: DataFrame,
      k: Int = 16, bands: Int = 4): DataFrame =
    store.select("band", "bhash", "bsz", "id1")
      .unionByName(bucketStats(deliverySigs, k, bands))
      .groupBy("band", "bhash")
      .agg(sum($("bsz")).as("bsz"), min($("id1")).as("id1"))

  /** TAKEDOWN of a [[bucketStats]] store: subtract the retracted
    * docs' per-bucket counts (keyed merge — a bucket not touched by
    * the removal is never read), drop buckets folded to zero, and
    * REPAIR the canonical minimum only where it was retracted: a
    * bucket loses its id1 iff the retracted slice's own minimum in
    * that bucket equals it (retracted ⊆ members, so rmin ≥ id1 with
    * equality exactly when id1 is retracted). Those buckets — and
    * only those — recompute min over the survivors via a broadcast
    * semi-join of the surviving band hashes on the affected (band,
    * bhash) set: the surviving-store scan is narrow (no shuffle of
    * non-matching rows) and the re-aggregation is affected-bucket
    * sized. Over-retraction (a count driven negative) raises
    * row-locally — corruption, the takedown discipline everywhere
    * else — as does an affected bucket with a positive count but no
    * surviving member (an inconsistent store).
    *
    * Oracle gate: retract == [[bucketStats]] over the survivors
    * (q196).
    */
  def bucketStatsRetract(store: DataFrame, survivingSigs: DataFrame,
      retractedSigs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val r = bucketStats(retractedSigs, k, bands)
      .select($("band"), $("bhash"), $("bsz").as("rsz"),
        $("id1").as("rmin"))
    val overRetract = raise_error(concat(
      lit("bucket over-retraction: (band="), $("band"),
      lit(", bhash="), $("bhash"),
      lit(") count driven negative"))).cast("long")
    val unrepairable = raise_error(concat(
      lit("bucket min unrepairable: (band="), $("band"),
      lit(", bhash="), $("bhash"),
      lit(") has survivors on count but none in signatures")))
      .cast("long")
    // FULL outer: a retraction touching a bucket the store does not
    // hold at all (bsz side null) is over-retraction too — a left
    // join would silently drop exactly the double-retract case
    // materialized eagerly: `merged` feeds BOTH the affected-bucket
    // set and the final join — left lazy, the store read and the
    // retracted-side aggregation would run twice
    val merged = store.select("band", "bhash", "bsz", "id1")
      .join(r, Seq("band", "bhash"), "full")
      .select($("band"), $("bhash"),
        (coalesce($("bsz"), lit(0L)) - coalesce($("rsz"), lit(0L)))
          .as("bsz"),
        $("id1"), $("rmin"))
      .withColumn("bsz",
        when($("bsz") < 0, overRetract).otherwise($("bsz")))
      .filter($("bsz") > 0)
      .localCheckpoint(true)
    val affected = merged.filter($("rmin").isNotNull &&
      $("rmin") === $("id1")).select("band", "bhash")
    val repaired = bandHashes(survivingSigs, k, bands)
      .join(broadcast(affected), Seq("band", "bhash"))
      .groupBy("band", "bhash")
      .agg(min($("doc_id")).as("id1r"))
    merged.join(repaired, Seq("band", "bhash"), "left")
      .select($("band"), $("bhash"), $("bsz"),
        when($("rmin").isNotNull && $("rmin") === $("id1"),
          when($("id1r").isNull, unrepairable).otherwise($("id1r")))
          .otherwise($("id1")).as("id1"))
  }

  /** [[incrementalNearDups]] off a PERSISTED [[bucketStats]] table:
    * the capped store-vs-batch probe with the store-side bucket
    * aggregation replaced by the bucket store — and the store is
    * consumed through its HOT slice only: ok-buckets are exactly
    * everything-minus-hot (every index band hash appears in a
    * consistent bucket store by construction), so the cap filter is
    * a broadcast ANTI-join of the index band hashes against the
    * handful of over-cap buckets, never a join against the
    * bucket-table itself. The parquet read prunes to `bsz > cap`
    * (pushed filter), so the delivery path touches O(hot) bucket
    * rows; the index signatures are still scanned narrowly (band
    * hashes for the candidate join, k BIGINTs per surviving pair
    * for the scorer), and the store-sized (band, bhash) shuffle is
    * gone entirely (ADVICE round-14). Byte-identical to
    * [[incrementalNearDups]] when `bstats == bucketStats(index)` —
    * q96's SQL gates the composed form verbatim.
    */
  def incrementalNearDupsFrom(bstats: DataFrame, index: DataFrame,
      batch: DataFrame, k: Int = 16, bands: Int = 4, maxBucket: Int = 256,
      minAgree: Int = 8): DataFrame = {
    val hot = bstats.filter($("bsz") > maxBucket)
      .select("band", "bhash")
    val cands = bandHashes(index, k, bands)
      .join(broadcast(hot), Seq("band", "bhash"), "left_anti")
      .select($("band"), $("bhash"), $("doc_id").as("id1"))
      .join(bandHashes(batch, k, bands)
        .select($("band"), $("bhash"), $("doc_id").as("id2")),
        Seq("band", "bhash"))
      .select("id1", "id2").distinct()
    agreeScores(cands, index, batch, k)
      .filter($("n_agree") >= minAgree)
      .withColumn("est_jaccard", $("n_agree").cast("double") / k)
  }

  /** Mass-duplication rescue for the LSH buckets the hot-bucket cap
    * EXCLUDES: [[incrementalNearDups]] (and every all-pairs candidate
    * generator here) drops buckets with more than `maxBucket` members
    * to bound pair generation — which silently no-ops the
    * within-delivery self-probe in exactly the scenario it exists
    * for, a crawl template duplicated thousands of times in ONE
    * delivery. This is the complement: each member of an OVER-cap
    * bucket is scored against the bucket's smallest doc_id only — a
    * star probe, O(members) pairs per bucket instead of the O(n²)
    * the cap prevents — and returns the same (id1, id2, n_agree,
    * est_jaccard) shape with id1 = the bucket minimum (so id1 < id2
    * always, matching the greedy keep-smallest convention). The star
    * is sufficient precisely BECAUSE the bucket is over-cap: members
    * of a mass-duplicated template all collide with the template's
    * canonical copy; transitive chains that need all-pairs live in
    * small buckets, which the capped probe still covers.
    */
  def hotBucketPairs(sigs: DataFrame, k: Int = 16, bands: Int = 4,
      maxBucket: Int = 256, minAgree: Int = 8): DataFrame = {
    val bh = bandHashes(sigs, k, bands)
    val hot = bh.groupBy("band", "bhash")
      .agg(count(lit(1)).as("bsz"), min($("doc_id")).as("id1"))
      .filter($("bsz") > maxBucket)
      .select("band", "bhash", "id1")
    val cands = bh.join(hot, Seq("band", "bhash"))
      .filter($("doc_id") =!= $("id1"))
      .select($("id1"), $("doc_id").as("id2")).distinct()
    agreeScores(cands, sigs, sigs, k)
      .filter($("n_agree") >= minAgree)
      .withColumn("est_jaccard", $("n_agree").cast("double") / k)
  }

  /** [[hotBucketPairs]] generalized to INDEX-vs-BATCH — the star
    * probe's incremental form, closing the store-side blind spot of
    * [[incrementalNearDups]]: that probe drops over-cap STORE buckets
    * before the equi-join, so a delivery doc whose only collisions
    * land in a store bucket already saturated by a mass-duplicated
    * template is silently admitted (ADVICE round-13 — the same cap
    * blind spot round 13 fixed within-delivery, one level up). Here
    * each BATCH member of an over-cap INDEX bucket is scored against
    * that bucket's canonical store doc (its smallest doc_id) only —
    * O(batch members) pairs per hot bucket, never the O(store·batch)
    * the cap exists to prevent. Returns the [[incrementalNearDups]]
    * shape: (id1 = indexed canonical doc, id2 = batch doc, n_agree,
    * est_jaccard). The star suffices for the same reason as in
    * [[hotBucketPairs]]: a bucket only goes over-cap under mass
    * duplication, where every member collides with the canonical
    * copy; chains needing all-pairs live in small buckets, which the
    * capped probe still covers.
    *
    * Scale: standalone, this derives hot buckets with its own
    * store-sized aggregation — fine for a one-shot audit, but a
    * SECOND store pass when wired per-delivery next to
    * [[incrementalNearDups]]; the ingest path therefore uses
    * [[hotBucketProbeFrom]] over the persisted [[bucketStats]] store
    * instead (ADVICE round-14), where the hot table is a filter on a
    * #buckets-sized read. The probe itself is a (band, bhash)
    * equi-join against BATCH band hashes — batch-proportional — and
    * the scorer moves k BIGINTs per surviving pair.
    */
  def hotBucketProbe(index: DataFrame, batch: DataFrame, k: Int = 16,
      bands: Int = 4, maxBucket: Int = 256, minAgree: Int = 8): DataFrame =
    hotBucketProbeFrom(bucketStats(index, k, bands), index, batch,
      k, bands, maxBucket, minAgree)

  /** [[hotBucketProbe]] off a PERSISTED [[bucketStats]] table: the
    * hot-bucket set (bsz > maxBucket, with its canonical id1) comes
    * from the bucket store — typically a handful of rows, broadcast
    * by AQE — so the star probe touches the index ONLY through the
    * scorer's keyed signature join. Byte-identical to
    * [[hotBucketProbe]] when `bstats == bucketStats(index)`; q192's
    * SQL gates the composed form verbatim (q197).
    */
  def hotBucketProbeFrom(bstats: DataFrame, index: DataFrame,
      batch: DataFrame, k: Int = 16, bands: Int = 4, maxBucket: Int = 256,
      minAgree: Int = 8): DataFrame = {
    val hot = bstats.filter($("bsz") > maxBucket)
      .select("band", "bhash", "id1")
    val cands = bandHashes(batch, k, bands)
      .join(hot, Seq("band", "bhash"))
      .filter($("doc_id") =!= $("id1"))
      .select($("id1"), $("doc_id").as("id2")).distinct()
    agreeScores(cands, index, batch, k)
      .filter($("n_agree") >= minAgree)
      .withColumn("est_jaccard", $("n_agree").cast("double") / k)
  }

  /** Calibration report for the [[estimatedJaccardPairs]] estimator:
    * per agreement count (0..k), how many LSH candidate pairs scored
    * there and their mean EXACT Jaccard — the table that tells a
    * pipeline where to put the verify-free threshold (and whether the
    * estimator is biased on this corpus). Returns (n_agree, n_pairs,
    * mean_j_micro) with the mean in exact integer micro-Jaccard:
    * per-pair j_micro = common·1e6 div (|A|+|B|−common), bucket mean
    * = Σ div n — no order-dependent double accumulation, hash-exact.
    *
    * Scale: one candidate generation (shared shape with q26), the
    * signature scorer (k BIGINTs per pair), and the exact verify for
    * the candidate sliver only — the same bounded cost q26 already
    * pays, feeding a (k+1)-row report.
    */
  def estimatorCalibration(documents: DataFrame, n: Int = 5, k: Int = 16,
      bands: Int = 4, maxBucket: Int = 256): DataFrame = {
    val sigs = minhashSignaturesFrom(shingles(documents, n), k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally: a failed materialize must not leak the persisted
    // signature table in a long-lived session
    try {
      sigs.count()
      val cands = lshCandidates(sigs, k, bands, maxBucket)
        .localCheckpoint(true)
      val scored = jaccardDetailFor(cands, shingles(documents, n))
      estimatorCalibrationFromScored(scored, sigs, k)
        .localCheckpoint(true)
    } finally sigs.unpersist(false)
  }

  /** [[estimatorCalibration]] over PRECOMPUTED dedup artifacts: the
    * SCORED candidate table ([[jaccardDetailFor]] output — id1, id2,
    * common, sz1, sz2, jaccard) plus the signature table. This is the
    * artifact pair a materialized dedup run leaves behind (see
    * [[sourceOverlapFromPairs]] for the materialize-once rationale;
    * the near-dup pair set is just `scored.filter(jaccard >=
    * threshold)`), and with common/sizes already present the
    * calibration touches NO corpus data at all — one signature probe
    * join plus a k-bounded aggregate. Caller owns the artifact
    * lifecycle (q98 reads the warehouse 'pair' family; nothing
    * persisted here).
    */
  def estimatorCalibrationFromScored(scored: DataFrame, sigs: DataFrame,
      k: Int = 16): DataFrame = {
    val est = agreeScores(scored.select($("id1"), $("id2")), sigs, sigs, k)
    val exact = scored.select($("id1"), $("id2"),
      expr("(common * 1000000) div (sz1 + sz2 - common)").cast("long")
        .as("j_micro"))
    est.join(exact, Seq("id1", "id2"))
      .groupBy("n_agree")
      .agg(count(lit(1)).as("n_pairs"),
        sum($("j_micro")).cast("long").as("sum_j_micro"))
      .select($("n_agree"), $("n_pairs"),
        expr("sum_j_micro div n_pairs").cast("long").as("mean_j_micro"))
  }

  /** Pairwise vocabulary overlap between sources: Jaccard similarity
    * of the token TYPE sets, |V_a ∩ V_b| / |V_a ∪ V_b| — the
    * lexical-level mirror-site detector that complements
    * [[sourceOverlap]] (which needs actual near-dup DOCS; two sources
    * paraphrasing the same domain show up here first). Returns
    * (src1 < src2, v1, v2, common, vocab_jaccard).
    *
    * Scale: everything after the (source, token) distinct is
    * type-level — the self-join on token is vocab-proportional, and
    * the output is sources²-bounded. Per-token fan-out is bounded by
    * the SQUARE OF THE SOURCE COUNT (a token present in every one of
    * m sources emits m·(m−1)/2 rows), so the join's worst case is
    * |vocab|·m²/2 — m is tens-to-hundreds in practice, never
    * corpus-proportional, which is why no df cut is needed here
    * (unlike [[ngramJaccardPairs]], whose fan-out is doc-quadratic).
    * PlanAuditSpec pins the plan shape. The ratio is integer/integer.
    */
  def sourceVocabOverlap(documents: DataFrame): DataFrame = {
    val (st, res) = sourceVocabOverlapBuild(documents)
    // try/finally: a failed count/checkpoint must not leak the
    // MEMORY_AND_DISK type table in a long-lived session
    try {
      st.count()
      res.localCheckpoint(true)
    } finally st.unpersist(false)
  }

  /** [[sourceVocabOverlap]]'s un-checkpointed build — returns
    * (persisted type table, result plan); the caller owns the type
    * table's lifecycle. Exposed so PlanAuditSpec can assert the join
    * shape (the public surface returns a checkpoint scan).
    */
  def sourceVocabOverlapBuild(documents: DataFrame): (DataFrame, DataFrame) = {
    val st = documents.spread()
      .select($("source"),
        explode(split(TextAnalysis.normText($("text")), " ")).as("token"))
      .filter(length($("token")) > 0)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = st.groupBy("source").agg(count(lit(1)).as("v"))
    val common = st.select($("source").as("src1"), $("token"))
      .join(st.select($("source").as("src2"), $("token")), Seq("token"))
      .filter($("src1") < $("src2"))
      .groupBy("src1", "src2").agg(count(lit(1)).as("common"))
    val result = common
      .join(broadcast(sizes.select($("source").as("src1"), $("v").as("v1"))),
        Seq("src1"))
      .join(broadcast(sizes.select($("source").as("src2"), $("v").as("v2"))),
        Seq("src2"))
      .select($("src1"), $("src2"), $("v1"), $("v2"), $("common"),
        ($("common").cast("double") /
          ($("v1") + $("v2") - $("common")).cast("double"))
          .as("vocab_jaccard"))
    (st, result)
  }

  /** Per-document novelty under id-order processing: the share of a
    * doc's distinct `n`-gram shingles whose corpus-wide FIRST
    * occurrence (minimum doc_id) is this doc — "how much content
    * does this doc introduce that nothing before it had". The
    * diversity-curve signal dedup pipelines read alongside
    * [[boilerplate]] (its exact complement: boilerplate measures
    * shared-ness, novelty measures first-ness). Returns (doc_id,
    * n_shingles, n_novel, novelty_frac).
    *
    * Scale: the [[boilerplate]] plan shape — shingles md5-hashed to
    * 60-bit ints BEFORE any shuffle (the full 60-bit value, NOT
    * reduced mod p: a ~2^30 modulus would collide distinct shingles
    * with 50% probability at only ~38k types, silently deflating
    * novelty_frac; 60 bits pushes that birthday bound past 10^9
    * shingle types), one distinct, one map-side-combined min per
    * shingle (vocabulary-sized table), one hash join back.
    * Integer/integer ratio.
    */
  def novelty(documents: DataFrame, n: Int = 5): DataFrame = {
    val dist = shingles(documents, n)
      .select($("doc_id"),
        conv(substring(md5($("shingle")), 1, 15), 16, 10).cast("long")
          .as("h"))
      .distinct()
    val firsts = dist.groupBy($("h")).agg(min($("doc_id")).as("first_id"))
    dist.join(firsts, Seq("h"))
      .groupBy($("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when($("doc_id") === $("first_id"), 1L).otherwise(0L))
          .cast("long").as("n_novel"))
      .select($("doc_id"), $("n_shingles"), $("n_novel"),
        ($("n_novel").cast("double") / $("n_shingles")).as("novelty_frac"))
  }

  /** The LSH family's design table: collision probability of
    * [[lshCandidates]]' banding scheme as a function of true Jaccard
    * similarity s — P(candidate) = 1 − (1 − s^r)^b with r = k/bands
    * rows per band, over a gridSteps-point s grid. The planner a
    * pipeline reads to pick (k, bands) for a target threshold before
    * paying for a corpus pass. Returns (s_pct, p_band, p_collide).
    *
    * Both powers expand to explicit multiplication chains (r and b
    * are small integers), so every value is a fixed-order product of
    * IEEE doubles — bit-exact cross-engine, no `pow` parity bet.
    */
  def lshTuningCurve(spark: org.apache.spark.sql.SparkSession,
      k: Int = 16, bands: Int = 4, gridSteps: Int = 20): DataFrame = {
    require(k % bands == 0, s"k=$k must divide evenly into bands=$bands")
    // > 100 steps would collide s_pct labels (i·100 div gridSteps is
    // not injective past 100); the label is an integer percent
    require(gridSteps >= 1 && gridSteps <= 100,
      s"gridSteps=$gridSteps must be in [1, 100]")
    val r = k / bands
    val s = col("i").cast("double") / gridSteps
    val pBand = Seq.fill(r)(s).reduce(_ * _)
    val q = lit(1.0) - pBand
    val pCollide = lit(1.0) - Seq.fill(bands)(q).reduce(_ * _)
    spark.range(1, gridSteps + 1).toDF("i")
      // long arithmetic: i·100 FIRST, then integer-divide — correct
      // for every gridSteps (100/gridSteps truncating first mislabels
      // any non-divisor of 100)
      .select(expr(s"(i * 100) div $gridSteps").cast("long").as("s_pct"),
        pBand.as("p_band"), pCollide.as("p_collide"))
  }
}
