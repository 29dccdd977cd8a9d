package graft

import org.apache.spark.sql.DataFrame

import graft.operators.SubstringDedup

/** Hand-computed semantics for the token-window substring-dedup family
  * (q111/q112): window fingerprints, the ≥2-occurrence dup rule
  * (including within-doc repeats), merged-interval coverage, and the
  * deterministic top-spans ordering.
  */
class SubstringDedupSpec extends SparkSpec {

  import spark.implicits._

  // k=4 keeps the arithmetic small enough to verify by hand.
  private val K = 4

  /** doc 1: "a b c d e f"        → windows at 1..3
    * doc 2: "x a b c d e y"      → shares the two windows "a b c d",
    *                               "b c d e" with doc 1
    * doc 3: "p q r s p q r s"    → the window "p q r s" repeats
    *                               WITHIN the doc (positions 1 and 5);
    *                               "q r s p" etc. occur once
    * doc 4: "u v w"              → under k tokens, excluded
    * doc 5: "  A  b   c d e F " → normalization: lowercase + collapse
    *                               → "a b c d e f" = doc 1 exactly
    */
  private lazy val docs: DataFrame = Seq(
    (1L, "a b c d e f"),
    (2L, "x a b c d e y"),
    (3L, "p q r s p q r s"),
    (4L, "u v w"),
    (5L, "  A  b   c d e F ")).toDF("doc_id", "text")

  test("windowOccurrences: one row per k-window, 1-based pos, short docs out") {
    val wins = SubstringDedup.windowOccurrences(docs, K)
      .select("doc_id", "pos").as[(Long, Int)].collect().sorted
    // doc1: 3 windows, doc2: 4, doc3: 5, doc5: 3; doc4 none
    assert(wins.map(_._1).distinct === Array(1L, 2L, 3L, 5L))
    assert(wins.filter(_._1 == 2L).map(_._2) === Array(1, 2, 3, 4))
    assert(wins.filter(_._1 == 3L).map(_._2) === Array(1, 2, 3, 4, 5))
  }

  test("duplicatedWindows: corpus-wide ≥2 rule counts within-doc repeats") {
    val dup = SubstringDedup.duplicatedWindows(docs, K)
      .select("n_occ", "n_docs").as[(Long, Long)].collect().sorted
    // "a b c d": docs 1,2,5 → 3 occ; "b c d e": 3 occ; "c d e f": docs
    // 1,5 → 2 occ; "p q r s": twice in doc 3 → (2 occ, 1 doc)
    assert(dup === Array((2L, 1L), (2L, 2L), (3L, 3L), (3L, 3L)))
  }

  test("dupSpanStats: merged-interval coverage, zero-dup docs included") {
    val got = SubstringDedup.dupSpanStats(docs, K)
      .select("doc_id", "n_tokens", "dup_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // doc1 "a b c d e f": dup windows at pos 1,2,3 → covers 1..6 (all)
    // doc2: dup windows at pos 2,3 → covers tokens 2..6 of 7
    // doc3: "p q r s" at pos 1 and 5 → [1,4] ∪ [5,8]: adjacent
    //       intervals are separate islands but coverage sums to 8
    // doc5 ≡ doc1
    assert(got === Array(
      (1L, 6L, 6L), (2L, 7L, 5L), (3L, 8L, 8L), (5L, 6L, 6L)))
    val frac = SubstringDedup.dupSpanStats(docs, K)
      .where($"doc_id" === 2L).select("dup_fraction").as[Double].head()
    assert(frac === 5.0 / 7.0)
  }

  test("dupSpanStats: overlap is not double-counted") {
    // two docs sharing one 6-token run → windows at pos 1,2,3 overlap;
    // coverage must be 6, not 3·k
    val pair = Seq((1L, "m n o p q r zz1"), (2L, "m n o p q r zz2"))
      .toDF("doc_id", "text")
    val got = SubstringDedup.dupSpanStats(pair, K)
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().sorted
    assert(got === Array((1L, 6L), (2L, 6L)))
  }

  test("dupIntervals: merged disjoint ranges per doc") {
    val ivs = SubstringDedup.dupIntervals(
      SubstringDedup.windowOccurrences(docs, K), K)
      .select("doc_id", "start", "end").as[(Long, Int, Int)]
      .collect().sorted
    // doc1: [1,6]; doc2: hits at 2,3 merge to [2,6]; doc3: hits at
    // 1 and 5 are adjacent but disjoint islands [1,4], [5,8]; doc5 = doc1
    assert(ivs === Array((1L, 1, 6), (2L, 2, 6), (3L, 1, 4), (3L, 5, 8),
      (5L, 1, 6)))
  }

  test("removeSpans cuts covered tokens, keeps the rest in order") {
    val got = SubstringDedup.removeSpans(docs, K)
      .select("doc_id", "n_tokens", "removed_tokens", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 6L, 6L, ""),            // fully duplicated
      (2L, 7L, 5L, "x y"),         // interior [2,6] cut, ends survive
      (3L, 8L, 8L, ""),            // within-doc repeat covers all
      (4L, 3L, 0L, "u v w"),       // under k: untouched
      (5L, 6L, 6L, "")))           // normalizes to doc1
  }

  test("removeSpansKeepOne: the globally-first occurrence survives the cut") {
    val got = SubstringDedup.removeSpansKeepOne(docs, K)
      .select("doc_id", "n_tokens", "removed_tokens", "clean_text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 6L, 0L, "a b c d e f"), // owns every shared span: untouched
      (2L, 7L, 5L, "x y"),         // non-owner copies of A/B cut
      (3L, 8L, 4L, "p q r s"),     // within-doc repeat: first kept
      (4L, 3L, 0L, "u v w"),       // under k: untouched
      (5L, 6L, 6L, "")))           // doc1's mirror loses everything
  }

  test("rolling window hashes: identical dup sets and coverage vs the md5 path") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit}
    def dupSet(w: DataFrame): Set[(Long, Int)] = w
      .withColumn("n", count(lit(1)).over(Window.partitionBy("fp")))
      .where(col("n") >= 2)
      .select("doc_id", "pos").as[(Long, Int)].collect().toSet
    // planted fixture: cross-doc, within-doc, and normalization dups
    val md5Set = dupSet(SubstringDedup.windowOccurrences(docs, K))
    val rollSet = dupSet(SubstringDedup.windowOccurrencesRolling(docs, K))
    assert(md5Set === rollSet)
    assert(rollSet.nonEmpty)
    // real corpus: merged coverage must agree row-for-row
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val covM = SubstringDedup.coverageFromWindows(
      SubstringDedup.windowOccurrences(real, 8), 8)
      .as[(Long, Long)].collect().toSet
    val covR = SubstringDedup.coverageFromWindows(
      SubstringDedup.windowOccurrencesRolling(real, 8), 8)
      .as[(Long, Long)].collect().toSet
    assert(covM === covR)
  }

  test("consumers on the rolling default equal their md5 twins on real data") {
    // the coverage/rewrite consumers read the rolling source only;
    // their outputs are fingerprint-agnostic, so the interval set they
    // cut by must equal the md5 path's (what the DuckDB oracles
    // replay) row-for-row
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def intervals(wins: DataFrame): Set[(Long, Long, Long)] =
      SubstringDedup.dupIntervals(wins, 8)
        .select($"doc_id", $"start".cast("long"), $"end".cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val ivM = intervals(SubstringDedup.windowOccurrences(real, 8))
    val ivR = intervals(SubstringDedup.windowOccurrencesRolling(real, 8))
    assert(ivR === ivM, "rolling duplicated intervals diverged from md5")
    val removed = SubstringDedup.removeSpans(real)
      .as[(Long, Long, Long, String)].collect()
    assert(removed.exists(_._3 > 0), "fixture must actually contain repeated spans")
    assert(removed.map(_._3).sum === ivR.toSeq.map { case (_, s, e) => e - s + 1 }.sum,
      "removeSpans must cut exactly the duplicated intervals")
  }

  test("incremental span dedup == full-corpus stats restricted to the batch") {
    // the ingest identity: a batch window is duplicated iff its
    // index+batch occurrence total reaches 2 — exactly the full-corpus
    // >= 2 rule, so incremental(index(old), new) must equal
    // dupSpanStats(old ∪ new) restricted to the new docs, and the
    // folded index must equal the from-scratch index
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val old = real.filter($"doc_id" % 2 === 0)
    val batch = real.filter($"doc_id" % 2 === 1)
    val idx = SubstringDedup.windowIndex(old).localCheckpoint(true)
    val inc = SubstringDedup.incrementalSpanStats(idx, batch)
      .as[(Long, Long, Long, Double)].collect().toSet
    val full = SubstringDedup.dupSpanStats(real)
      .filter($"doc_id" % 2 === 1)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(inc === full, "incremental flags must equal the full-corpus rule")
    assert(inc.exists(_._3 > 0), "fixture must contain cross-half repeats")
    val folded = SubstringDedup.updatedWindowIndex(idx, batch)
      .as[(Long, Long)].collect().toSet
    val scratch = SubstringDedup.windowIndex(real)
      .as[(Long, Long)].collect().toSet
    assert(folded === scratch, "folded index must equal from-scratch index")
    // planted within-batch repeat: unknown to the index, still flagged
    val emptyIdx = SubstringDedup.windowIndex(
      Seq((99L, "nothing shared here at all with anyone else today ok"))
        .toDF("doc_id", "text"))
    val selfDup = Seq(
      (1L, "p q r s t u v w p q r s t u v w"),  // 8-window repeats itself
      (2L, "a b c d e f g h i j k l m n o p")   // unique
    ).toDF("doc_id", "text")
    val got = SubstringDedup.incrementalSpanStats(emptyIdx, selfDup)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) === 16L, "within-batch repeat must be fully covered")
    assert(got(2L) === 0L)
  }

  test("retracted window index == from-scratch over survivors; over-retraction raises") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val odd = real.filter($"doc_id" % 2 === 1)
    val full = SubstringDedup.windowIndex(real).localCheckpoint(true)
    // takedown identity: retract(index(all), odd) == index(even)
    val retracted = SubstringDedup.retractedWindowIndex(full, odd)
      .as[(Long, Long)].collect().toSet
    val scratch = SubstringDedup.windowIndex(
      real.filter($"doc_id" % 2 === 0)).as[(Long, Long)].collect().toSet
    assert(retracted === scratch,
      "retracted index must equal from-scratch over the survivors")
    // retracting the whole corpus leaves an empty index (every count
    // reaches zero and is dropped), never zero-count residue
    assert(SubstringDedup.retractedWindowIndex(full, real).count() === 0L)
    // a doc never indexed (or retracted twice) drives a count
    // negative -> raises instead of leaving a corrupt index
    val alien = Seq((999L, "totally novel window text never indexed anywhere before now"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      SubstringDedup.retractedWindowIndex(full, alien).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("negative"))),
      s"expected the negative-count guard, got: $e")
  }

  test("topDuplicatedSpans: (n_occ desc, span asc) total order, text intact") {
    val top = SubstringDedup.topDuplicatedSpans(docs, K, topN = 3)
      .as[(String, Long, Long)].collect()
    assert(top === Array(
      ("a b c d", 3L, 3L), ("b c d e", 3L, 3L), ("c d e f", 2L, 2L)))
  }
}
