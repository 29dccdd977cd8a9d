package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SkewJoin}
import graft.sources.Tables

/** The skew-handling primitives and the scale rehearsal: semantics
  * AND physical-plan assertions (the plan property IS the feature).
  */
class ScaleToolsSpec extends SparkSpec {
  import spark.implicits._

  test("salted join == plain join on a skewed fixture") {
    val hot = (1 to 5000).map(_ => (1L, "hot")) ++
      (1 to 100).map(i => (i.toLong + 1, s"cold$i"))
    val fact = hot.toDF("k", "payload")
    val dim = (1L to 101L).map(k => (k, s"dim$k")).toDF("k", "attr")
    val plain = fact.join(dim, Seq("k"))
      .groupBy("k").count().as[(Long, Long)].collect().toMap
    val salted = SkewJoin.saltedJoin(fact, dim, Seq("k"), salt = 8)
      .groupBy("k").count().as[(Long, Long)].collect().toMap
    assert(salted === plain)
  }

  test("inflateSkewedDocuments: power-law sources + an over-cap template family") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val skew = ScaleRehearsal.inflateSkewedDocuments(docs, 1)
      .localCheckpoint(true)
    // row count = base + 300 template copies
    assert(skew.count() === docs.count() + 300L)
    // the source distribution is a power law: the top key's share is
    // ~1/2 (md5 buckets) — enough that any per-source shuffle has a
    // hot key; read via the profile the skew legs wire in
    val prof = SkewJoin.keySkewProfile(skew, "source")
      .as[(Long, String, Long, Long)].collect()
    assert(prof.head._2 === "src0")
    assert(prof.head._4 > 400000L,
      s"expected src0 share > 40%, got ${prof.head._4} micro")
    // the template family saturates its LSH buckets: the capped probe
    // is blind to it, the star probe flags every non-canonical copy
    val sigs = Dedup.minhashSignatures(skew).localCheckpoint(true)
    val star = Dedup.hotBucketPairs(sigs)
      .filter($"est_jaccard" >= 0.9).count()
    assert(star >= 299L,
      s"expected >= 299 star pairs over the template family, got $star")
  }

  test("inflateSkewedDocuments: doc_ids stay distinct at k = 10") {
    // regression for the ADVICE r14 medium: the template-copy range
    // (fixed 9e8 offset) collided with inflated block 9 at k >= 10,
    // silently merging ~3000 doc_ids' texts; copies now live at
    // slot k of the 1e8-wide grid, disjoint from blocks 0..k-1
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val skew = ScaleRehearsal.inflateSkewedDocuments(docs, 10)
    val total = skew.count()
    val distinct = skew.select("doc_id").distinct().count()
    assert(distinct === total,
      s"expected all $total doc_ids distinct, got $distinct")
    assert(total === docs.count() * 10L + 3000L)
  }

  test("keySkewProfile ranks the hot key first with exact micro shares") {
    // 6 rows of key 7, 3 of key 2, 1 of key 9 (+ a null, excluded)
    val rows = Seq.fill(6)(Option(7L)) ++ Seq.fill(3)(Option(2L)) ++
      Seq(Option(9L), Option.empty[Long])
    val df = rows.toDF("k")
    val got = SkewJoin.keySkewProfile(df, "k", topK = 2)
      .as[(Long, String, Long, Long)].collect().toList
    // total is over ALL non-null rows (10), not just the top-k
    assert(got === List(
      (1L, "7", 6L, 600000L),
      (2L, "2", 3L, 300000L)))

    // ties order by key_value asc for a total order
    val tied = Seq(1L, 1L, 3L, 3L).toDF("k")
    val t = SkewJoin.keySkewProfile(tied, "k")
      .as[(Long, String, Long, Long)].collect().toList
    assert(t === List((1L, "1", 2L, 500000L), (2L, "3", 2L, 500000L)))
  }

  test("salted join spreads the hot key over multiple partitions") {
    val fact = (1 to 4000).map(i => (1L, i)).toDF("k", "v")
    val dim = Seq((1L, "x")).toDF("k", "attr")
    val joined = SkewJoin.saltedJoin(fact, dim, Seq("k"), salt = 8)
    // count distinct non-empty partitions of the shuffle stage result
    val perPartition = joined.rdd
      .mapPartitions(it => Iterator(it.size)).collect().count(_ > 0)
    assert(perPartition > 1, "hot key should occupy several partitions")
  }

  test("lshCandidates drops planted hot buckets but keeps real dup pairs") {
    // 8 byte-identical "template" docs: identical signatures, so every
    // band forms one bucket of 8 — the mass-duplicated-boilerplate
    // degenerate case. Plus one distinct near-dup pair (bucket of 2).
    val docs = ((1L to 8L).map(i =>
        (i, "please unsubscribe from this mailing list to stop receiving offers")) ++
      Seq((100L, "the quick brown fox jumps over the lazy dog every single day"),
          (101L, "the quick brown fox jumps over the lazy dog every single day")))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignaturesFrom(Dedup.shingles(docs, n = 5))
    val uncapped = Dedup.lshCandidates(sigs, maxBucket = 256)
      .as[(Long, Long)].collect().toSet
    assert(uncapped.size === 8 * 7 / 2 + 1, "no cap: all template pairs + the dup pair")
    val capped = Dedup.lshCandidates(sigs, maxBucket = 4)
      .as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)),
      "cap must drop the hot template bucket and keep the small-bucket pair")
  }

  test("spread() adds no exchange when input is already wide") {
    import graft.operators.OrderedOut._
    val target = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000, 1, numPartitions = target * 2).toDF("v")
    val out = wide.spread()
    assert(out.rdd.getNumPartitions === target * 2)
    assert(!out.queryExecution.optimizedPlan.toString.contains("Repartition"),
      "already-wide input must not be reshuffled")
    // the narrow case still fans out to full parallelism
    val narrow = spark.range(0, 1000, 1, numPartitions = 1).toDF("v")
    assert(narrow.spread().rdd.getNumPartitions === target)
  }

  test("ScaleRehearsal inflation: within-copy dup structure x K, zero cross-copy pairs") {
    // two near-dup docs + one distinct: the original graph has exactly
    // one pair. A valid K-fold inflation yields exactly K pairs (one
    // per copy) — a plain text copy would add cross-copy pairs and
    // grow the graph superlinearly, poisoning the linearity
    // measurement the rehearsal exists to make.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and runs far away house"),
      (3L, "completely different content about distributed query engines in the cloud"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src0"))
      .withColumn("n_chars", length($"text").cast("long"))
    val basePairs = Dedup.minhashDupPairs(docs, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(basePairs.map(p => (p._1, p._2)) === Set((1L, 2L)))

    val k = 3
    val inflated = ScaleRehearsal.inflateDocuments(docs, k)
    assert(inflated.count() === docs.count() * k)
    val got = Dedup.minhashDupPairs(inflated, threshold = 0.7)
      .as[(Long, Long, Double)].collect().toSet
    assert(got.size === k, s"expected $k within-copy pairs, got: $got")
    val copyOf = (id: Long) => id / 100000000L
    assert(got.forall(p => copyOf(p._1) === copyOf(p._2)),
      s"cross-copy near-dup pairs must not exist: $got")
    // each copy contributes exactly the original pair, id-shifted
    assert(got.map(p => (p._1 % 100000000L, p._2 % 100000000L)) ===
      Set((1L, 2L)))
  }

  test("ScaleRehearsal.rehearse leaves no persisted RDD or bucketed table behind") {
    // q26 reads the cached corpus, hot_span_refine the cached hot
    // corpus and its checkpointed store
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val failed = ScaleRehearsal.rehearse(spark, "/root/testdata/sf0.001",
      Seq(1), Some(Seq("q26_minhash_dups", "hot_span_refine")))
    assert(failed.isEmpty, s"legs failed: $failed")
    // the SparkContext holds persisted RDDs weakly: a localCheckpoint
    // (the rehearsal's stores, the operators' own) leaves once its
    // frame is garbage, while a cached frame stays pinned by the
    // CacheManager until someone unpersists it
    def left = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    val deadline = System.nanoTime() + 30000000000L
    while (left.nonEmpty && System.nanoTime() < deadline) {
      System.gc(); Thread.sleep(200)
    }
    assert(left.isEmpty, s"rehearse left persisted RDDs behind: " +
      spark.sparkContext.getPersistentRDDs.filter(r => left(r._1))
        .map(_._2.toDebugString).mkString("\n"))
    val tables = spark.catalog.listTables().collect().map(_.name)
    assert(!tables.exists(_.startsWith("rehearsal_sg_pairs_")),
      s"rehearse left a bucketed table: ${tables.mkString(", ")}")
  }

  test("ScaleRehearsal entry legs serve the entry and leave no scratch dir") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val sf = "/root/testdata/sf0.001"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def scratch: Set[String] = Option(tmp.list).toSeq.flatten
      .filter(_.startsWith("graft-rehearsal-")).toSet
    val before = scratch
    val out = new java.io.ByteArrayOutputStream
    val failed = Console.withOut(out)(ScaleRehearsal.rehearse(spark, sf,
      Seq(1), Some(Seq("pair_build", "q51_dup_clusters", "q147_source_containment"))))
    assert(failed.isEmpty, s"legs failed: $failed")
    val rows = out.toString("UTF-8").linesIterator.filter(_.startsWith("{"))
      .map(parse(_)).map(j => (j \ "query", j \ "rows")).collect {
        case (JString(q), JInt(n)) => q -> n.toLong }.toMap
    assert(rows.keySet === Set("pair_build", "q51_dup_clusters",
      "q147_source_containment"), out.toString("UTF-8"))
    // at ×1 the scratch directory holds the rows of sf0.001, so an
    // entry leg's observed rows are the entry's own
    for (q <- Seq("q51_dup_clusters", "q147_source_containment"))
      assert(rows(q) === SparkEntry.queries(q)(spark, sf).count(), q)
    assert((scratch -- before).isEmpty,
      s"rehearse left scratch dirs behind: ${scratch -- before}")
  }

  test("freshStatsView stops iterative-checkpoint stats compounding") {
    import org.apache.spark.sql.graft.ColumnBridge
    // localCheckpoint CARRIES the origin plan's size estimate into
    // the new leaf; a checkpoint-per-round self-join loop compounds
    // it multiplicatively (s^(2^k)) until optimizer stats arithmetic
    // drowns in BigInteger multiplies (measured: a 64-round BPE
    // trainer hung 25+ driver-cpu minutes before the fix). This pins
    // both halves: the naked loop's estimate GROWS without bound, the
    // cut loop's estimate stays at one round's product.
    def stats(df: org.apache.spark.sql.DataFrame): BigInt =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    val base = (1L to 100L).toDF("id")
    var naked = base.localCheckpoint(true)
    var cut = ColumnBridge.freshStatsView(base.localCheckpoint(true))
    for (_ <- 1 to 4) {
      naked = naked.as("a").join(naked.as("b"), "id").select(col("id"))
        .localCheckpoint(true)
      cut = ColumnBridge.freshStatsView(
        cut.as("a").join(cut.as("b"), "id").select(col("id"))
          .localCheckpoint(true))
    }
    val nakedFinal = stats(naked.as("a").join(naked.as("b"), "id"))
    val cutFinal = stats(cut.as("a").join(cut.as("b"), "id"))
    assert(nakedFinal > cutFinal,
      s"carried stats must compound past the reset path ($nakedFinal vs $cutFinal)")
    // the cut path is bounded by ONE round's join product of the
    // default estimate — never by the round count
    val oneRound = stats(ColumnBridge.freshStatsView(base.localCheckpoint(true))
      .as("a").join(
        ColumnBridge.freshStatsView(base.localCheckpoint(true)).as("b"), "id"))
    assert(cutFinal <= oneRound,
      s"reset path must stay at one round's estimate ($cutFinal vs $oneRound)")
    // and the data itself is untouched by the re-wrap
    assert(cut.count() === 100L)
  }

  test("salted two-phase aggregation matches direct aggregation") {
    val df = ((1 to 3000).map(_ => ("hot", 1.0)) ++
      (1 to 50).map(i => (s"k$i", 2.0))).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    val salted = SkewJoin.saltedAgg(df, Seq("k"), salt = 8)(
      _.agg(count(lit(1)).as("n"), sum($"v").as("s")),
      _.agg(sum($"n").as("n"), sum($"s").as("s")))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, s) => k -> ((n, s)) }.toMap
    assert(salted === direct)
  }
}
