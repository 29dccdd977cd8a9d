package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.OrderedOut.SmallOrderOps

/** EXACT substring-duplication analysis via a distributed suffix
  * array — the exactness completion of the fixed-k rolling-window
  * span dedup ([[SubstringDedup]]): where the window index detects
  * repeats of one fixed length k, the suffix array + LCP array
  * surface MAXIMAL repeated token spans of ANY length, the structure
  * Lee et al. 2022 ("Deduplicating Training Data Makes Language
  * Models Better" — public literature) build their exact
  * substring-dedup on.
  *
  * Construction rests on the PREFIX-INTERVAL property proved for
  * span groups below, not on prefix doubling. Suffixes live WITHIN a
  * document (the corpus-concatenation separators of the paper are
  * exactly doc boundaries). A suffix's sort key is its first
  * [[SaKeyLen]] tokens (`slice`: a shorter array sorts first, so an
  * ending suffix precedes its extensions); members of a duplicated
  * window add their in-group order from the span-group machinery
  * ([[memberOrder]]). ONE global range sort then orders every
  * suffix, and the LCP of adjacent suffixes is the common prefix of
  * their windows across groups and the exact member LCP within one —
  * exact token comparison throughout (the md5 group key only routes
  * members). The DuckDB oracle (q232) still replays Manber–Myers
  * prefix doubling: engine and oracle are independent algorithms
  * that must agree bit-for-bit.
  *
  * Scale: no loop depth depends on document length. Suffix content
  * ships only for duplicated windows (what the `sg_*_pairs` builds
  * already ship); the rest is one (doc_id, pos) join and one
  * range-partitioned sort + per-partition offset scan — never a
  * global single-partition window, so a hot group spreads over
  * partitions at every step.
  */
object SuffixArray {

  private def $(name: String): Column = col(name)

  /** The SA's sort-key width: the warehouse's span-group width. */
  private val SaKeyLen = 5

  /** Span groups past this many members take the hot path. */
  private val HotThreshold = 1024

  /** Append an order-preserving DENSE rank (1-based) over `keys` to
    * EVERY row of `df`, materialized (localCheckpoint): ONE global
    * range-partitioned sort of the full table, then a tiny
    * per-partition stats job ((first key, last key, distinct count)
    * per partition — partitions-sized driver data, never rows) whose
    * prefix sums become each partition's rank offset (a key group
    * split across a partition boundary continues the previous
    * partition's last rank), and one cached scan assigns ranks. The
    * hot path's per-level block renumbering ([[hotGroup]]) rides it:
    * the data crosses the wire once (the sort), and no key group is
    * ever funnelled into one partition.
    */
  private def withDenseRank(df: DataFrame, keys: Seq[String],
      rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.orderBy(keys.map(col(_).asc): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(rankCol, LongType, nullable = false))
    val kIdx = keys.map(sorted.schema.fieldIndex)
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def keyOf(r: Row): Seq[Any] = kIdx.map(r.get)
      val stats: Array[Option[(Seq[Any], Seq[Any], Long)]] = rdd
        .mapPartitionsWithIndex { (i, it) =>
          var first: Seq[Any] = null
          var last: Seq[Any] = null
          var d = 0L
          it.foreach { r =>
            val k = keyOf(r)
            if (first == null) { first = k; last = k; d = 1L }
            else if (k != last) { last = k; d += 1L }
          }
          Iterator((i, Option(first).map(f => (f, last, d))))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = new Array[Long](stats.length)
      var acc = 0L
      var prevLast: Seq[Any] = null
      for (i <- stats.indices) stats(i) match {
        case None => offsets(i) = acc
        case Some((first, last, d)) =>
          val continues = prevLast != null && first == prevLast
          offsets(i) = acc - (if (continues) 1L else 0L)
          acc = offsets(i) + d
          prevLast = last
      }
      // Boundary tie-back (ADVICE round-17): the rank pass re-reads the
      // persisted sorted RDD; if a cached partition were lost and
      // recomputed, the range sort could resample boundaries and the
      // collected offsets would no longer describe the partition's
      // contents — a SILENT mis-rank. Each partition therefore asserts
      // its first and last keys against the stats it was priced from
      // and fails loudly on any drift.
      val firstKeys = stats.map(_.map(_._1).orNull)
      val lastKeys = stats.map(_.map(_._2).orNull)
      val ranked = rdd.mapPartitionsWithIndex { (i, it) =>
        var rank = offsets(i)
        var last: Seq[Any] = null
        val mapped = it.map { r =>
          val k = kIdx.map(r.get)
          if (last == null) {
            val exp = firstKeys(i)
            if (exp == null || k != exp) throw new IllegalStateException(
              s"withDenseRank: partition $i first key $k does not match " +
                s"the collected stats (${Option(exp)}) — the sorted RDD " +
                "was recomputed with different range boundaries; rerun")
          }
          if (last == null || k != last) { rank += 1L; last = k }
          Row.fromSeq(r.toSeq :+ rank)
        }
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h && (if (last == null) firstKeys(i) != null
                       else last != lastKeys(i)))
              throw new IllegalStateException(
                s"withDenseRank: partition $i last key ${Option(last)} " +
                  s"does not match the collected stats " +
                  s"(${Option(lastKeys(i))}); rerun")
            h
          }
          def next(): Row = mapped.next()
        }
      }
      spark.createDataFrame(ranked, schema).localCheckpoint(true)
    } finally rdd.unpersist(false)
  }

  /** Doubling levels the ORACLE unrolls: the q230-q232 oracle SQL
    * replays Manber–Myers prefix doubling as a static string, so its
    * level count cannot be data-derived — 2^OracleDoubling = 128
    * tokens, above every fixture's longest document. The engine does
    * not double at all ([[suffixArrayWithLcp]]) and is exact at any
    * length. The oracle guards its own bound with an error() CTE: a
    * fixture that outgrows 128 tokens fails LOUDLY instead of
    * hash-matching a silently truncated comparison.
    */
  val OracleDoubling = 7

  /** The suffix array with its LCP array: (idx, doc_id, pos,
    * lcp_prev) — idx is the suffix's 1-based position in (suffix
    * tokens, doc_id, pos) order and lcp_prev the exact longest common
    * token prefix with the suffix at idx−1 (0 at idx = 1). The two
    * classic arrays, relationally, materialized (localCheckpoint).
    *
    * Every suffix carries its first [[SaKeyLen]] tokens as `key`;
    * members of a duplicated full window also carry `sub`, their
    * order inside the window's span group, and `lcp`, their exact
    * common prefix with the member before them ([[memberOrder]]).
    * One range sort on (key, sub, doc_id, pos) orders all suffixes;
    * a partitions-sized stats collect ((row count, last key) per
    * partition) gives each partition its idx offset and its
    * predecessor's key, and one scan assigns idx and lcp_prev —
    * the member `lcp` inside a group, else the common prefix of the
    * adjacent keys. Correct by the prefix-interval property (see the
    * span-group section): suffixes with different windows are
    * ordered, and their LCP decided, by the windows alone.
    */
  def suffixArrayWithLcp(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    val keyed = documents.spread()
      .select($("doc_id"), TextAnalysis.normText($("text")).as("norm"))
      .where(length($("norm")) > 0)
      .select($("doc_id"), split($("norm"), " ").as("toks"))
      .select($("doc_id"), posexplode(transform(
        sequence(lit(1), size($("toks"))),
        i => slice($("toks"), i, lit(SaKeyLen)))).as(Seq("p0", "key")))
      .select($("doc_id"), ($("p0") + 1).cast("long").as("pos"), $("key"))
    val order = memberOrder(spanGroupStore(documents, SaKeyLen), documents,
      SaKeyLen, HotThreshold)
    val sorted = keyed.join(order, Seq("doc_id", "pos"), "left")
      .orderBy($("key").asc, $("sub").asc, $("doc_id").asc, $("pos").asc)
      .select($("doc_id"), $("pos"), $("key"), $("lcp"))
    val schema = StructType(Seq(
      StructField("idx", LongType, nullable = false),
      sorted.schema("doc_id"),
      StructField("pos", LongType, nullable = false),
      StructField("lcp_prev", LongType, nullable = false)))
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (rows, last key) per partition, in partition order
      val stats = rdd.mapPartitions { it =>
        var n = 0L
        var last: Seq[String] = null
        it.foreach { r => n += 1L; last = r.getSeq[String](2) }
        Iterator((n, Option(last)))
      }.collect()
      // partition i starts after every row before it, and its first
      // suffix's predecessor is the last key of the nearest non-empty
      // partition before it (rows are range-sorted)
      val offsets = stats.scanLeft(0L)(_ + _._1)
      val carry = stats.scanLeft(Option.empty[Seq[String]])(
        (prev, s) => s._2.orElse(prev))
      val indexed = rdd.mapPartitionsWithIndex { (i, it) =>
        var idx = offsets(i)
        var prev = carry(i).orNull
        it.map { r =>
          val key = r.getSeq[String](2)
          idx += 1L
          val lcp =
            if (!r.isNullAt(3)) r.getLong(3)
            else if (prev == null) 0L
            else prev.zip(key).takeWhile(p => p._1 == p._2).size.toLong
          prev = key
          Row(idx, r.get(0), r.getLong(1), lcp)
        } ++ {
          // the [[withDenseRank]] tie-back: a partition recomputed
          // with resampled range bounds fails loudly
          if (idx != offsets(i + 1)) throw new IllegalStateException(
            s"suffixArrayWithLcp: partition $i ended at idx $idx, not " +
              s"${offsets(i + 1)} — the sorted RDD was recomputed; rerun")
          Iterator.empty
        }
      }
      spark.createDataFrame(indexed, schema).localCheckpoint(true)
    } finally rdd.unpersist(false)
  }

  /** Maximal repeated token spans of length ≥ `minLen`: every
    * adjacent suffix pair whose exact LCP clears the threshold —
    * (doc1, pos1, doc2, pos2, lcp), the raw exact-repeat table the
    * window index only approximates at its fixed k. A span repeated
    * r times appears r−1 times here (its suffixes are consecutive in
    * the array) — pair-linear, never group-quadratic.
    */
  def repeatedSpans(documents: DataFrame, minLen: Long = 5L): DataFrame =
    repeatedSpansFromLcp(
      suffixArrayWithLcp(documents).localCheckpoint(true), minLen)

  /** [[repeatedSpans]] off a PERSISTED [[suffixArrayWithLcp]] table —
    * the production path: build the arrays once per corpus version,
    * and every repeat consumer pays one lcp-filtered self-join of the
    * artifact (the *From discipline of the pair-graph family).
    */
  def repeatedSpansFromLcp(withLcp: DataFrame,
      minLen: Long = 5L): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")
    val prev = withLcp.select(($("idx") + 1).as("idx"),
      $("doc_id").as("doc1"), $("pos").as("pos1"))
    withLcp.filter($("lcp_prev") >= minLen)
      .join(prev, Seq("idx"))
      .select($("doc1"), $("pos1"), $("doc_id").as("doc2"),
        $("pos").as("pos2"), $("lcp_prev").as("lcp"))
  }

  /** Per-document exact-duplication diagnosis off the LCP array:
    * a suffix's longest common prefix with ANY other suffix equals
    * the max of its two ADJACENT LCPs (the classic LCP-array
    * property), so (doc_id, n_tokens, n_dup_pos, max_lcp) counts
    * positions whose suffix shares ≥ `minLen` tokens with somewhere
    * else in the corpus — the exact-maximal sibling of the
    * fixed-k dup_fraction profile (q111).
    */
  def docRepeatProfile(documents: DataFrame,
      minLen: Long = 5L): DataFrame =
    docRepeatProfileFromLcp(
      suffixArrayWithLcp(documents).localCheckpoint(true), minLen)

  /** [[docRepeatProfile]] off a persisted array table — see
    * [[repeatedSpansFromLcp]].
    */
  def docRepeatProfileFromLcp(withLcp: DataFrame,
      minLen: Long = 5L): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")
    val nextLcp = withLcp.select(($("idx") - 1).as("idx"),
      $("lcp_prev").as("lcp_next"))
    withLcp.join(nextLcp, Seq("idx"), "left")
      .na.fill(0L, Seq("lcp_next"))
      .select($("doc_id"),
        greatest($("lcp_prev"), $("lcp_next")).as("best"))
      .groupBy($("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when($("best") >= minLen, 1L).otherwise(0L)).cast("long")
          .as("n_dup_pos"),
        max($("best")).cast("long").as("max_lcp"))
  }

  // ------------------------------------------------------------------
  // SPAN-GROUP maintenance — fold/retract for the suffix-repeat family
  //
  // The arrays themselves are corpus-global (a delivery shifts every
  // idx), but the repeat PRODUCTS thresholded at minLen
  // decompose exactly by the suffixes' first minLen tokens:
  //
  //   Two suffixes are SA-adjacent with clamped LCP >= minLen
  //   ⟺ they share their first minLen tokens (one "span group") and
  //     are adjacent within that group's content order.
  //
  // Proof of the decomposition (the prefix-interval property): ⇒ a
  // pair with lcp >= minLen shares the minLen-prefix, and global
  // adjacency implies group adjacency (nothing at all lies between
  // them). ⇐ for a group-adjacent pair (a, b), any global suffix c
  // between them satisfies a <= c <= b, and since a and b share the
  // minLen-prefix p, c either starts with p (then c is in the group —
  // contradicting group adjacency) or is a strict prefix of p (then
  // c < a, not between). So the sets coincide, and each pair's LCP is
  // the plain common-prefix length of the two member suffixes —
  // computable group-locally with NO prefix doubling. The same
  // property builds the arrays themselves ([[suffixArrayWithLcp]]):
  // windows order and separate the groups, [[memberOrder]] orders
  // each group.
  //
  // That turns the family incremental: the STORE is (doc_id, pos, fp)
  // with fp = md5 of the position's minLen-token window — doc-local
  // rows, so fold = append and retract = anti-join, the cheapest
  // maintenance in the repo — and a delivery/takedown only dirties
  // the groups whose fp it touches: carried groups keep their pairs
  // verbatim, touched groups recompute from their (few) members.
  // Same md5 collision budget as the whole window family (~2^-128
  // per distinct window pair), and the fold/retract gates run against
  // the collision-free suffix-CTE oracle, so a collision would fail
  // loudly, not silently.
  //
  // Scale: the heavy step materializes each DUPLICATED-group member's
  // remaining token array (corpus-linear only over the duplicated
  // slice; unique suffixes never materialize). Group partitions are
  // member-sized; a pathological span repeated millions of times
  // (license headers, boilerplate — the NORM in web-scale dedup)
  // would make one window partition hold every member's full
  // remaining suffix — so groups past `hotThreshold` members take
  // the HOT PATH ([[hotGroup]]): iterative bounded-slice
  // refinement that keeps O(1) state per member per level and sorts
  // full token content only over each block's DISTINCT extension
  // slices (for repeated boilerplate: one). Both paths are
  // output-identical (HotGroup differential spec) and feed the same
  // oracle gates.
  // ------------------------------------------------------------------

  /** The span-group STORE: one row per suffix position with ≥ `minLen`
    * remaining tokens — (doc_id, pos, fp), fp = md5 of the space-
    * joined minLen-token window at pos (the [[SubstringDedup]] window
    * discipline). Doc-local: fold = append the delivery's rows,
    * retract = anti-join the removed doc ids. Persist bucketed by fp.
    */
  def spanGroupStore(documents: DataFrame, minLen: Int = 5): DataFrame =
    SubstringDedup.windowOccurrences(documents, minLen)

  /** Exact common-prefix length of two token arrays — the native
    * codegen expression (round 18, guide §4; see
    * [[graft.plans.CommonPrefixLenExpression]]): same first-mismatch
    * count, same shorter-array clamp as the old interpreted
    * `aggregate ∘ zip_with` fold, without a lambda frame and boxed
    * struct per token per pair.
    */
  private def commonPrefixLen(a: Column, b: Column): Column =
    graft.plans.CommonPrefixLenExpression.commonPrefixLen(a, b)

  /** [[repeatedSpans]] recomputed group-locally off a span-group
    * store, with the group key kept — (fp, doc1, pos1, doc2, pos2,
    * lcp): duplicated groups (≥ 2 members) sort their member suffixes
    * by (token array, doc_id, pos) — the SA order restricted to the
    * group — and adjacent members pair with their exact common-prefix
    * length. Row-identical to [[repeatedSpans]] (+ fp) by the
    * decomposition proof above. `documents` supplies the member
    * suffix text (semi-joined to member docs — a delivery's touched
    * groups read only their own docs).
    */
  def repeatedSpansWithKey(store: DataFrame, documents: DataFrame,
      minLen: Long = 5L, hotThreshold: Int = HotThreshold): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")
    byHeat(store, hotThreshold)(
      fps => windowMembers(store, fps, documents)
        .filter($("doc1").isNotNull)
        .select($("fp"), $("doc1"), $("pos1"),
          $("doc_id").as("doc2"), $("pos").as("pos2"), $("lcp")),
      members => hotGroup(members, documents, minLen)._2)
  }

  /** Every member of a duplicated span group with its place in the
    * group's suffix order — (doc_id, pos, sub, lcp): (sub, doc_id,
    * pos) orders one group's members as their suffixes sort, and lcp
    * is the exact common prefix with the member before (null for the
    * group's first). The in-group key of [[suffixArrayWithLcp]], from
    * the same two paths as [[repeatedSpansWithKey]]: the window sort's
    * row number, or the hot path's final block.
    */
  private def memberOrder(store: DataFrame, documents: DataFrame,
      minLen: Long, hotThreshold: Int): DataFrame =
    byHeat(store, hotThreshold)(
      fps => windowMembers(store, fps, documents)
        .select($("doc_id"), $("pos").cast("long").as("pos"), $("sub"),
          $("lcp")),
      members => {
        val (state, pairs) = hotGroup(members, documents, minLen)
        state.select($("doc_id"), $("pos").cast("long").as("pos"),
            $("block").as("sub"))
          .join(pairs.select($("doc2").as("doc_id"),
            $("pos2").cast("long").as("pos"), $("lcp")),
            Seq("doc_id", "pos"), "left")
      })

  /** Split a store's duplicated (≥ 2-member) groups by size: `cool`
    * gets the fp list of groups with at most `hotThreshold` members,
    * `hot` the member rows of the larger ones, and the two results
    * union. One cheap store-scan probe first: the overwhelmingly
    * common no-hot-group call keeps the round-17 single-plan shape
    * verbatim.
    */
  private def byHeat(store: DataFrame, hotThreshold: Int)(
      cool: DataFrame => DataFrame, hot: DataFrame => DataFrame): DataFrame = {
    require(hotThreshold >= 2, s"hotThreshold=$hotThreshold must be >= 2")
    val counts = store.groupBy($("fp"))
      .agg(count(lit(1)).as("n_occ"))
      .filter($("n_occ") >= 2)
    val hasHot = !counts.filter($("n_occ") > hotThreshold).isEmpty
    if (!hasHot) cool(counts.select($("fp")))
    else {
      val hotFps = counts.filter($("n_occ") > hotThreshold).select($("fp"))
      // broadcast the hot-fp list (tiny by definition: <= members /
      // hotThreshold rows): a hash join keyed on fp would funnel a
      // hot group's entire membership into one task — the exact
      // pattern this path exists to avoid
      cool(counts.filter($("n_occ") <= hotThreshold).select($("fp")))
        .unionByName(hot(store.join(broadcast(hotFps), Seq("fp"))))
    }
  }

  /** Adjacent (previous, current) member pairs within each fp, in
    * (block, doc_id, pos) order — the hot path's final pairing step,
    * WITHOUT a per-fp window (a 10^7-member group would funnel its
    * id-rows into one window partition): ONE global range sort of the
    * (fp, block, doc_id, pos) rows, a partitions-sized last-row
    * collect, and a boundary-stitched per-partition scan (the
    * [[withDenseRank]] discipline applied to adjacency).
    */
  private def adjacentWithinFp(state: DataFrame): DataFrame = {
    val spark = state.sparkSession
    val sorted = state.select($("fp"), $("block"), $("doc_id"), $("pos"))
      .orderBy($("fp").asc, $("block").asc, $("doc_id").asc, $("pos").asc)
    val f = sorted.schema
    val schema = StructType(Seq(f("fp"),
      StructField("doc1", f("doc_id").dataType, nullable = false),
      StructField("pos1", f("pos").dataType, nullable = false),
      StructField("doc2", f("doc_id").dataType, nullable = false),
      StructField("pos2", f("pos").dataType, nullable = false)))
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val lasts: Array[Option[Row]] = rdd
        .mapPartitionsWithIndex { (i, it) =>
          var last: Row = null
          it.foreach(r => last = r)
          Iterator((i, Option(last)))
        }
        .collect().sortBy(_._1).map(_._2)
      // each partition is seeded with the last row of the nearest
      // non-empty partition before it (rows are range-sorted, so that
      // row is this partition's true predecessor)
      val carry = new Array[Row](lasts.length)
      var prev: Row = null
      for (i <- lasts.indices) {
        carry(i) = prev
        lasts(i).foreach(r => prev = r)
      }
      val paired = rdd.mapPartitionsWithIndex { (i, it) =>
        var last: Row = carry(i)
        it.flatMap { r =>
          val out =
            if (last != null && last.getString(0) == r.getString(0))
              Iterator(Row(r.getString(0), last.get(2), last.get(3),
                r.get(2), r.get(3)))
            else Iterator.empty
          last = r
          out
        }
      }
      spark.createDataFrame(paired, schema).localCheckpoint(true)
    } finally rdd.unpersist(false)
  }

  /** The member-sized-group path of [[repeatedSpansWithKey]]: sort
    * each duplicated group's member suffixes in one window — (fp,
    * doc_id, pos, sub, doc1, pos1, lcp) per member, sub its row
    * number in (suffix, doc_id, pos) order and (doc1, pos1, lcp) the
    * member before it with their exact common prefix (null for the
    * first). Partition memory is member-count × remaining-suffix
    * length — right up to [[repeatedSpansWithKey]]'s `hotThreshold`,
    * past which [[hotGroup]] takes over.
    */
  private def windowMembers(store: DataFrame, dupFps: DataFrame,
      documents: DataFrame): DataFrame = {
    val members = store.join(dupFps, Seq("fp"))
    val toks = documents.spread()
      .select($("doc_id"),
        split(TextAnalysis.normText($("text")), " ").as("toks"))
      .join(members.select($("doc_id")).distinct(), Seq("doc_id"))
    val sufs = members.join(toks, Seq("doc_id"))
      .select($("fp"), $("doc_id"), $("pos"),
        expr("slice(toks, pos, size(toks) - pos + 1)").as("suf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($("fp"))
      .orderBy($("suf").asc, $("doc_id").asc, $("pos").asc)
    sufs
      .select($("fp"), $("doc_id"), $("pos"), $("suf"),
        row_number().over(w).cast("long").as("sub"),
        lag($("doc_id"), 1).over(w).as("doc1"),
        lag($("pos"), 1).over(w).as("pos1"),
        lag($("suf"), 1).over(w).as("suf1"))
      .select($("fp"), $("doc_id"), $("pos"), $("sub"), $("doc1"),
        $("pos1"), commonPrefixLen($("suf1"), $("suf")).as("lcp"))
  }

  /** HOT-GROUP path (round-17 verdict #2): group-local suffix
    * ordering by ITERATIVE BOUNDED-SLICE REFINEMENT, for span groups
    * too populous to window-sort their full member suffixes in one
    * partition (boilerplate/license spans repeated millions of times
    * — normal at web scale).
    *
    * Invariant: after level ℓ (offset w = minLen·2^ℓ tokens), two
    * members share a `block` iff their suffixes agree on their first
    * w tokens, and block NUMBERS within a group follow suffix lex
    * order. Level ℓ extends each still-ambiguous member by the
    * bounded slice [w, 2w) of its suffix and refines:
    *
    *  - per member the slice costs O(w) compute but O(1) carried
    *    state (its md5) — full member suffixes NEVER sit in one
    *    partition together;
    *  - ordering of slices is resolved over each block's DISTINCT
    *    slices only (window over the distinct table): a span repeated
    *    a million times has ONE distinct extension per level, so the
    *    pathological case is exactly the cheap one. Blocks with many
    *    distinct extensions split immediately and leave the loop —
    *    content diversity and tie persistence trade off, which keeps
    *    (distinct slices × slice width) bounded by block content;
    *  - blocks renumber through a per-group dense rank over (old
    *    block, slice rank) pairs — id-sized rows, never content.
    *
    * Loop depth is ceil(log2(longest-member-suffix / minLen)) worst
    * case, with per-level localCheckpoints truncating lineage (the
    * componentsOf discipline). Equality with the window-sort path:
    * two group-mates' suffixes first differ at token D ≥ minLen; at
    * the level whose slice interval contains D their extensions
    * compare exactly as the suffixes do (array comparison is
    * lexicographic and a spent suffix's shorter slice sorts first),
    * so final (block, doc_id, pos) order IS (suffix, doc_id, pos)
    * order — pinned by the HotGroup differential spec and the q246
    * oracle gate. Adjacent members then pair with a row-local exact
    * common-prefix fold, O(LCP) per output row. Returns the final
    * member state (fp, doc_id, pos, rem, block) — [[memberOrder]]'s
    * in-group order — and the pairs (fp, doc1, pos1, doc2, pos2, lcp).
    *
    * NO per-group single-partition step remains on this path: the
    * two rank assignments ride [[withDenseRank]]'s global range sort
    * and the final adjacency rides [[adjacentWithinFp]]'s boundary-
    * stitched scan, so a group of ANY member count spreads across
    * the cluster at every stage. Below the window-sort path's memory
    * ceiling the extra passes cost ~2× cpu (measured, BASELINE round
    * 18) — which is why the hot path is an above-threshold escape,
    * not the default.
    */
  private def hotGroup(members: DataFrame, documents: DataFrame,
      minLen: Long): (DataFrame, DataFrame) = {
    val toksAll = documents.spread()
      .select($("doc_id"),
        split(TextAnalysis.normText($("text")), " ").as("toks"))
      .join(members.select($("doc_id")).distinct(), Seq("doc_id"))
      .localCheckpoint(true)
    var state = members.join(toksAll, Seq("doc_id"))
      .select($("fp"), $("doc_id"), $("pos"),
        (size($("toks")) - $("pos") + 1).cast("long").as("rem"),
        lit(0L).as("block"))
      .localCheckpoint(true)
    var off = minLen
    var done = false
    while (!done) {
      val blockStats = state.groupBy($("fp"), $("block"))
        .agg(count(lit(1)).as("bn"), max($("rem")).as("maxrem"))
      val needy = blockStats
        .filter($("bn") >= 2 && $("maxrem") > off)
        .select($("fp"), $("block"))
        .localCheckpoint(true)
      if (needy.isEmpty) done = true
      else {
        // needy is BROADCAST everywhere it filters member rows: its
        // join key (fp, block) is one value per still-ambiguous block,
        // so a hash join would funnel a hot block's entire membership
        // into one task. The table is bounded by blocks-with-ties
        // (<= hot members / 2, and it only shrinks as blocks settle
        // or split) — id-width rows, never content.
        val act = state.join(broadcast(needy), Seq("fp", "block"))
        // slice + hash projected straight out of the join stage: the
        // full token array never crosses an exchange
        val ext = act.join(toksAll, Seq("doc_id"))
          .select($("fp"), $("block"), $("doc_id"), $("pos"), $("rem"),
            expr(s"slice(toks, cast(pos + $off as int), ${off.toInt})")
              .as("ext"))
          .withColumn("sfp", md5(concat_ws(" ", $("ext"))))
        // The rank step rides the global range-sort dense rank, not a
        // per-group window: a group with a million DISTINCT extensions
        // (it splits to singletons right after, but the ranking has to
        // happen once) would otherwise funnel them into one window
        // partition. Ranks are global, but within a (fp, block) —
        // resp. fp — section they are contiguous ascending, and only
        // their ORDER is consumed. ONE fused rank (round 18) covers
        // both the old steps (rank distinct extensions, then renumber
        // blocks over (old block, ext rank) ∪ passive): passive
        // blocks enter as a single act = 0 row that sorts before
        // every act = 1 extension of the same (impossible — a block
        // is either passive or needy) and ordering by the extension
        // ARRAY directly equals ordering by its dense rank, so the
        // fused (fp, block, act, ext) rank assigns new block numbers
        // in exactly the order the two-step construction did — one
        // range sort + stats pass per level instead of two.
        val extKeys = ext.select($("fp"), $("block"), $("sfp"), $("ext"))
          .distinct()
          .select($("fp"), $("block"), lit(1).as("act"), $("ext"), $("sfp"))
        val passKeys = blockStats
          .join(broadcast(needy), Seq("fp", "block"), "left_anti")
          .select($("fp"), $("block"), lit(0).as("act"),
            array().cast("array<string>").as("ext"),
            lit(null).cast("string").as("sfp"))
        val ranked = withDenseRank(passKeys.unionByName(extKeys),
          Seq("fp", "block", "act", "ext"), "nb")
        val actRanked = ext
          .select($("fp"), $("block"), $("doc_id"), $("pos"), $("rem"),
            $("sfp"))
          .join(ranked.filter($("act") === 1)
            .select($("fp"), $("block"), $("sfp"), $("nb")),
            Seq("fp", "block", "sfp"))
        val passive = state
          .join(broadcast(needy), Seq("fp", "block"), "left_anti")
          .join(ranked.filter($("act") === 0)
            .select($("fp"), $("block"), $("nb")), Seq("fp", "block"))
        state = actRanked
          .select($("fp"), $("doc_id"), $("pos"), $("rem"),
            $("nb").as("block"))
          .unionByName(passive
            .select($("fp"), $("doc_id"), $("pos"), $("rem"),
              $("nb").as("block")))
          .localCheckpoint(true)
        off *= 2L
      }
    }
    val pairs = adjacentWithinFp(state)
      .join(toksAll.select($("doc_id").as("doc1"), $("toks").as("toks1")),
        Seq("doc1"))
      .join(toksAll.select($("doc_id").as("doc2"), $("toks").as("toks2")),
        Seq("doc2"))
      .select($("fp"), $("doc1"), $("pos1"), $("doc2"), $("pos2"),
        commonPrefixLen(
          expr("slice(toks1, pos1, size(toks1) - pos1 + 1)"),
          expr("slice(toks2, pos2, size(toks2) - pos2 + 1)")).as("lcp"))
    (state, pairs)
  }

  /** [[repeatedSpansWithKey]] in [[repeatedSpans]]' exact column
    * contract (fp dropped) — the store-path twin the q230 oracle
    * gates directly.
    */
  def repeatedSpansFromGroups(store: DataFrame, documents: DataFrame,
      minLen: Long = 5L): DataFrame =
    repeatedSpansWithKey(store, documents, minLen)
      .select($("doc1"), $("pos1"), $("doc2"), $("pos2"), $("lcp"))

  /** FOLD a delivery into the maintained repeat-pair artifact at
    * touched-group cost: groups untouched by the delivery keep their
    * pairs verbatim (fp anti-join); groups the delivery's windows
    * touch — extended old groups AND delivery-internal new ones —
    * recompute from the folded store's members. Equal to rebuilding
    * [[repeatedSpansWithKey]] over the grown corpus (q241's gate),
    * with per-delivery cost ∝ delivery windows + touched groups'
    * members, never the corpus.
    */
  def repeatedSpansFold(basePairs: DataFrame, foldedStore: DataFrame,
      delivery: DataFrame, documents: DataFrame,
      minLen: Long = 5L, hotThreshold: Int = HotThreshold): DataFrame = {
    val touched = spanGroupStore(delivery, minLen.toInt)
      .select($("fp")).distinct().localCheckpoint(true)
    val carried = basePairs.join(touched, Seq("fp"), "left_anti")
    // the touched-member slice materializes ONCE: the recompute plan
    // references it from several legs (dup counts, hot probe, window
    // sort, hot refinement), and each un-checkpointed reference would
    // re-run the store union's lineage — including the delivery's
    // md5 window derivation — per leg
    val recomputed = repeatedSpansWithKey(
      foldedStore.join(touched, Seq("fp")).localCheckpoint(true),
      documents, minLen, hotThreshold)
    carried.unionByName(recomputed)
  }

  /** RETRACT removed documents from the maintained repeat-pair
    * artifact — [[repeatedSpansFold]]'s takedown inverse: a removed
    * doc's suffixes live only in groups keyed by its own windows, so
    * those fps are exactly the dirty set; untouched groups carry,
    * touched groups recompute from the surviving store's members
    * (the removed docs' text is never re-read beyond its own
    * windows). Equal to rebuilding over the surviving corpus (q242's
    * gate).
    */
  def repeatedSpansRetract(basePairs: DataFrame, survivingStore: DataFrame,
      removed: DataFrame, documents: DataFrame,
      minLen: Long = 5L, hotThreshold: Int = HotThreshold): DataFrame = {
    val touched = spanGroupStore(removed, minLen.toInt)
      .select($("fp")).distinct().localCheckpoint(true)
    val carried = basePairs.join(touched, Seq("fp"), "left_anti")
    // same one-materialization rule as the fold (see there)
    val recomputed = repeatedSpansWithKey(
      survivingStore.join(touched, Seq("fp")).localCheckpoint(true),
      documents, minLen, hotThreshold)
    carried.unionByName(recomputed)
  }

  /** [[docRepeatProfile]] recomputed from the span-group stores —
    * no arrays, no doubling: n_dup_pos counts the doc's members of
    * duplicated minLen-groups (maxlcp(p) ≥ minLen ⟺ p's minLen-window
    * repeats — the window-index equivalence), the ≥ minLen side of
    * max_lcp reads off the group pairs, and the < minLen side is the
    * largest k ∈ [1, minLen) for which the doc still has a duplicated
    * k-window (maintained k-window indexes at scale; computed inline
    * here). Row-identical to the array path (q243's gate runs q231's
    * oracle verbatim).
    */
  def docRepeatProfileFromGroups(store: DataFrame, documents: DataFrame,
      minLen: Long = 5L): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")
    docRepeatProfileFromArtifacts(store,
      repeatedSpansWithKey(store, documents, minLen),
      (1L until minLen).map(k =>
        k -> SubstringDedup.windowOccurrences(documents, k.toInt)),
      minLen)
  }

  /** [[docRepeatProfile]] computed ENTIRELY from maintained artifacts
    * — ZERO corpus scans (round-17 verdict #5): `minStore` is the
    * minLen span-group store, `pairs` the maintained repeat-pair
    * table ([[repeatedSpansWithKey]]'s output, fold/retract-kept),
    * and `shortStores` the k-window stores for k in [1, minLen) —
    * all the same doc-local (doc_id, pos, fp) shape, so every one of
    * them folds/retracts by append/anti-join like the minLen store.
    * n_tokens reads off the k=1 store (one row per token position),
    * n_dup_pos counts duplicated-group members of the minLen store,
    * max_lcp is the larger of the pair-table max and the largest
    * still-duplicated short k. Row-identical to the array path
    * (q243's gate runs q231's oracle verbatim).
    */
  def docRepeatProfileFromArtifacts(minStore: DataFrame, pairs: DataFrame,
      shortStores: Seq[(Long, DataFrame)], minLen: Long = 5L): DataFrame = {
    require(minLen >= 1, s"minLen=$minLen must be >= 1")
    val ks = shortStores.map(_._1).sorted
    require(ks == (1L until minLen),
      s"shortStores must cover k = 1..${minLen - 1}, got $ks")
    val spark = minStore.sparkSession
    val k1 = if (minLen == 1L) minStore else shortStores.toMap.apply(1L)
    val lens = k1.groupBy($("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_tokens"))
    val dupFps = minStore.groupBy($("fp"))
      .agg(count(lit(1)).as("n_occ")).filter($("n_occ") >= 2)
      .select($("fp"))
    val nDup = minStore.join(dupFps, Seq("fp"))
      .groupBy($("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_pos"))
    val bigMax = pairs.select($("doc1").as("doc_id"), $("lcp"))
      .unionByName(pairs.select($("doc2").as("doc_id"), $("lcp")))
      .groupBy($("doc_id")).agg(max($("lcp")).as("big"))
    // ONE (k, fp)-keyed pipeline over the union of the short stores
    // instead of a groupBy+join+distinct chain PER k (optimization
    // round 18, guide §2.4): same rows cross the wire either way —
    // k is part of every key — but the per-k stage boundaries
    // collapse into one exchange each for the dup-group count, the
    // member join and the per-doc max
    val shortMax = shortStores.map { case (k, wins) =>
        wins.select($("doc_id"), $("fp"), lit(k).as("k"))
      }.reduceOption(_ unionByName _)
      .map { all =>
        val dup = all.groupBy($("k"), $("fp"))
          .agg(count(lit(1)).as("n")).filter($("n") >= 2)
          .select($("k"), $("fp"))
        all.join(dup, Seq("k", "fp"))
          .groupBy($("doc_id")).agg(max($("k")).as("small"))
      }
      .getOrElse(spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("small")).limit(0))
    lens
      .join(nDup, Seq("doc_id"), "left")
      .join(bigMax, Seq("doc_id"), "left")
      .join(shortMax, Seq("doc_id"), "left")
      .select($("doc_id"), $("n_tokens"),
        coalesce($("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        greatest(coalesce($("big"), lit(0L)), coalesce($("small"), lit(0L)))
          .cast("long").as("max_lcp"))
  }
}
