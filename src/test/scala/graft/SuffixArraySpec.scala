package graft

import graft.operators.SuffixArray

/** Semantic tests of the distributed suffix-array construction: the
  * q230-q232 oracles pin engine parity; these pin the arrays against
  * an INDEPENDENT in-memory suffix sort (plain Scala collections, no
  * span groups) on planted fixtures, a hot span group AND the full
  * real fixture.
  */
class SuffixArraySpec extends SparkSpec {
  import spark.implicits._

  /** Reference: brute-force suffix sort + pairwise-scan LCP. */
  private def brute(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] = {
    val norm = docs.map { case (id, t) =>
      id -> t.toLowerCase.trim.replaceAll("\\s+", " ") }
      .filter(_._2.nonEmpty)
    val sufs = for {
      (id, n) <- norm
      toks = n.split(" ").toSeq
      p <- toks.indices
    } yield (toks.drop(p), id, (p + 1).toLong)
    implicit val ord: Ordering[Seq[String]] = Ordering.Implicits
      .seqOrdering[Seq, String]
    val sorted = sufs.sortBy(s => (s._1, s._2, s._3))
    sorted.zipWithIndex.map { case ((toks, id, pos), i) =>
      val lcp =
        if (i == 0) 0L
        else sorted(i - 1)._1.zip(toks).takeWhile(p => p._1 == p._2).size.toLong
      (i + 1L, id, pos, lcp)
    }
  }

  test("suffix + LCP arrays == independent in-memory sort (planted)") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a shared phrase of six exact tokens here ends"),
      (3L, "prefix a shared phrase of six exact tokens differs after"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "zz zz zz zz"),                                 // self-repetition
      (6L, "   "),                                         // no tokens at all
      (7L, "the quick brown")                              // shorter than a window
    )
    val got = SuffixArray.suffixArrayWithLcp(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === brute(docs))
  }

  test("repeatedSpans surfaces the planted cross-doc span, none for unique text") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta unique one"),
      (2L, "start alpha beta gamma delta epsilon zeta tail"),
      (3L, "nothing in common with anything else at all")
    ).toDF("doc_id", "text")
    val spans = SuffixArray.repeatedSpans(docs, minLen = 5L)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(spans.nonEmpty, "the shared 6-token span must surface")
    // the maximal repeat: doc1 pos1 vs doc2 pos2 with lcp 6
    assert(spans.exists(s => s._5 === 6L &&
      Set(s._1, s._3) === Set(1L, 2L)), s"missing maximal span: ${spans.toSeq}")
    assert(!spans.exists(s => s._1 === 3L || s._3 === 3L),
      "the unique doc shares no >= 5-token span")
  }

  test("docRepeatProfile: exact dup fully duplicated, unique doc clean") {
    val docs = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven eight"),
      (3L, "totally different words appear within this text")
    ).toDF("doc_id", "text")
    val prof = SuffixArray.docRepeatProfile(docs, minLen = 5L)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // every position of the dup pair shares its whole suffix
    assert(prof(1L) === ((8L, 4L, 8L)),
      "positions 1..4 carry >= 5-token repeats; max lcp = full doc")
    assert(prof(2L) === ((8L, 4L, 8L)))
    assert(prof(3L)._2 === 0L, "unique doc has no >= 5-token repeat")
  }

  test("full real-fixture differential vs the in-memory reference") {
    val docsDf = graft.sources.Tables(spark, "/root/testdata/sf0.001")
      .documents
    val docs = docsDf.select($"doc_id", $"text")
      .as[(Long, String)].collect().toSeq
    val got = SuffixArray.suffixArrayWithLcp(docsDf)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val want = brute(docs)
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g === w, s"arrays diverge at idx ${g._1}") }
  }

  test("long docs (> 128 tokens) compare exactly at the derived depth") {
    // two ~200-token docs sharing a 150-token span: a fixed 7-level
    // doubling unroll (the oracle's OracleDoubling) compares only
    // 128-token prefixes and mis-ties these suffixes; the engine's
    // group-ordered construction must match the brute reference at
    // any length and surface the long repeat with its exact length
    def words(seed: Int, n: Int): Seq[String] =
      (0 until n).map(i => s"w${(seed + i * 37) % 1000}x$i")
    val shared = (0 until 150).map(i => s"shared$i")
    val docs = Seq(
      (1L, (words(1, 30) ++ shared ++ words(7, 25)).mkString(" ")),
      (2L, (words(500, 40) ++ shared ++ words(900, 15)).mkString(" ")),
      (3L, words(1234, 180).mkString(" ")))
    val got = SuffixArray.suffixArrayWithLcp(docs.toDF("doc_id", "text"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === brute(docs))
    val spans = SuffixArray.repeatedSpans(docs.toDF("doc_id", "text"),
      minLen = 140L).as[(Long, Long, Long, Long, Long)].collect()
    assert(spans.exists(s => s._5 === 150L && Set(s._1, s._3) === Set(1L, 2L)),
      s"the 150-token repeat must surface exactly: ${spans.toSeq}")
  }

  test("span-group path == array path: pairs, fold, retract, profile") {
    import org.apache.spark.sql.functions.col
    val docsDf = graft.sources.Tables(spark, "/root/testdata/sf0.001")
      .documents
    def pairsOf(df: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Long, Long, Long, Long)] =
      df.select(col("doc1"), col("pos1"), col("doc2"), col("pos2"),
        col("lcp")).as[(Long, Long, Long, Long, Long)]
        .collect().sorted.toSeq
    val store = SuffixArray.spanGroupStore(docsDf).localCheckpoint(true)
    // 1. group recompute == the SA+LCP adjacent-pair path
    val viaArrays = pairsOf(SuffixArray.repeatedSpans(docsDf))
    assert(pairsOf(SuffixArray.repeatedSpansFromGroups(store, docsDf))
      === viaArrays)
    // 2. fold: base store without bucket-3 docs + delivery == rebuild
    val b = graft.operators.Curation.hashBucket(col("doc_id"), 10)
    val baseDocs = docsDf.filter(b =!= 3)
    val delivery = docsDf.filter(b === 3)
    val baseStore = SuffixArray.spanGroupStore(baseDocs).localCheckpoint(true)
    val basePairs = SuffixArray.repeatedSpansWithKey(baseStore, baseDocs)
      .localCheckpoint(true)
    val folded = baseStore
      .unionByName(SuffixArray.spanGroupStore(delivery))
    assert(pairsOf(SuffixArray.repeatedSpansFold(
      basePairs, folded, delivery, docsDf)) === viaArrays)
    // 3. retract: full store minus the removed docs == rebuild on
    //    the survivors
    val rm = col("doc_id") % 7 === 3
    val removed = docsDf.filter(rm)
    val surviving = docsDf.filter(!rm)
    val fullPairs = SuffixArray.repeatedSpansWithKey(store, docsDf)
      .localCheckpoint(true)
    val survivingStore = store.join(removed.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    assert(pairsOf(SuffixArray.repeatedSpansRetract(
      fullPairs, survivingStore, removed, surviving))
      === pairsOf(SuffixArray.repeatedSpans(surviving)))
    // 4. per-doc profile off the group stores == the array path
    val profA = SuffixArray.docRepeatProfile(docsDf)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val profG = SuffixArray.docRepeatProfileFromGroups(store, docsDf)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(profG === profA)
  }

  test("hot-group path == window path == array path (mixed edge cases)") {
    import org.apache.spark.sql.functions.col
    // every shape the bounded-slice refinement must order correctly:
    //  - a 60-token boilerplate PREFIX shared by 20 docs with distinct
    //    tails (multiple doubling levels before blocks split),
    //  - exact-duplicate docs (ties that survive to suffix exhaustion),
    //  - a doc ENDING exactly at the shared window (empty extension
    //    slice must sort first),
    //  - a within-doc repeat (two members of one group from one doc),
    //  - unique filler
    val boiler = (0 until 60).map(i => s"boil$i")
    val docs = (
      (1 to 20).map(i =>
        (i.toLong, (boiler ++ Seq(s"tail$i", s"end$i")).mkString(" "))) ++
      Seq(
        (50L, "dup lic ate text body here exactly"),
        (51L, "dup lic ate text body here exactly"),
        (52L, "dup lic ate text body here exactly"),
        (60L, "lead in dup lic ate text body here exactly and more"),
        (61L, "boil0 boil1 boil2 boil3 boil4"), // ends AT the window
        (62L, ("spin cycle one two three four " * 2).trim),
        (70L, "entirely unrelated filler words that repeat nothing")
      )).toDF("doc_id", "text")
    val store = SuffixArray.spanGroupStore(docs).localCheckpoint(true)
    def keyed(ht: Int): Seq[(String, Long, Long, Long, Long, Long)] =
      SuffixArray.repeatedSpansWithKey(store, docs, 5L, ht)
        .as[(String, Long, Long, Long, Long, Long)]
        .collect().sorted.toSeq
    val viaWindow = keyed(Int.MaxValue) // window-sort path for all
    val viaHot = keyed(2)               // every group takes the hot path
    assert(viaHot === viaWindow,
      "hot-path refinement must reproduce the window sort exactly")
    // both equal the independent SA+LCP machinery (column contract)
    val viaArrays = SuffixArray.repeatedSpans(docs)
      .as[(Long, Long, Long, Long, Long)].collect().sorted.toSeq
    assert(viaHot.map(t => (t._2, t._3, t._4, t._5, t._6)).sorted
      === viaArrays)
  }

  test("planted pathological group (>= 10^4 members) takes the hot path " +
      "and matches the window sort") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // the round-17 verdict fixture: ONE span repeated 10,000 times
    // (boilerplate at web scale) + filler. Default hotThreshold (1024)
    // routes the planted group to the refinement path; the window-sort
    // path (threshold maxed) is the ground truth.
    val planted = spark.range(1, 10001)
      .select((col("id") + 1000000L).as("doc_id"),
        concat(lit("b0 b1 b2 b3 b4 b5 u"), col("id")).as("text"))
    val filler = (1 to 50)
      .map(i => (i.toLong, s"filler doc $i with its own words w$i x$i"))
      .toDF("doc_id", "text")
    val docs = planted.unionByName(filler)
    val store = SuffixArray.spanGroupStore(docs).localCheckpoint(true)
    def run(ht: Int) =
      SuffixArray.repeatedSpansWithKey(store, docs, 5L, ht)
        .as[(String, Long, Long, Long, Long, Long)]
        .collect().sorted.toSeq
    val hot = run(1024)
    assert(hot === run(Int.MaxValue))
    // shape check: positions 1 and 2 of every planted doc form two
    // 10^4-member groups -> 9,999 adjacent pairs each, lcp = 6 and 5
    assert(hot.count(_._6 === 6L) === 9999)
    assert(hot.count(_._6 === 5L) === 9999)
    // the arrays order both planted groups (70k suffixes) through the
    // hot path's blocks
    val got = SuffixArray.suffixArrayWithLcp(docs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val want = brute(docs.as[(Long, String)].collect().toSeq)
    assert(got.length === want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g === w, s"arrays diverge at idx ${g._1}") }
  }

  test("suffix array job count does not grow with document length") {
    // the same 30 docs at ~20 and ~400 tokens, each with a shared
    // 6-token phrase so both have duplicated windows: any loop whose
    // depth follows document length (prefix doubling: 5 vs 9 levels)
    // shows up as extra jobs
    def docsOf(len: Int) = (1 to 30).map { d =>
      val own = (0 until len - 6).map(i => s"d${d}w${(i * 7 + d) % 97}")
      (d.toLong, (own.take(len / 2) ++ "one shared phrase of six words"
        .split(" ") ++ own.drop(len / 2)).mkString(" "))
    }.toDF("doc_id", "text")
    // jobs are counted by job group, so events still queued from
    // earlier work never leak into a count
    val sc = spark.sparkContext
    val metrics = JobGroupMetrics.attach(sc)
    def jobsFor(docs: org.apache.spark.sql.DataFrame, group: String): Int = {
      val in = docs.localCheckpoint(true)
      sc.setJobGroup(group, "suffix array job count")
      try SuffixArray.suffixArrayWithLcp(in).count()
      finally sc.clearJobGroup()
      metrics.drain()
      metrics(group).jobs
    }
    val (short, long) =
      try (jobsFor(docsOf(20), "sa-short"), jobsFor(docsOf(400), "sa-long"))
      finally sc.removeSparkListener(metrics)
    assert(short > 0)
    assert(long === short, s"$long jobs at ~400 tokens vs $short at ~20")
    info(s"$short suffix-array jobs at both lengths")
  }

  test("construction is shard-order invariant") {
    val docsDf = graft.sources.Tables(spark, "/root/testdata/sf0.001")
      .documents
    val a = SuffixArray.suffixArrayWithLcp(docsDf)
      .as[(Long, Long, Long, Long)].collect().sorted
    val b = SuffixArray.suffixArrayWithLcp(docsDf.repartition(13))
      .as[(Long, Long, Long, Long)].collect().sorted
    assert(a.toSeq === b.toSeq)
  }
}
