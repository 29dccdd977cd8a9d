package graft

import org.apache.spark.sql.functions._

import graft.analytics.DistributionFit
import graft.operators.Curation

/** Pins the curation operators (Curation.scala): deterministic
  * md5-derived splits/samples, per-source quotas, planted
  * decontamination, and the run-length rank–frequency table.
  */
class CurationSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("hashSplit: complete, deterministic, buckets in range") {
    val s = Curation.hashSplit(docs).cache()
    try {
      val total = docs.count()
      assert(s.count() === total)

      val byCat = s.groupBy("split").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byCat.keySet.subsetOf(Set("train", "val", "test")))
      assert(byCat.values.sum === total)
      // 80/10/10 target: train must dominate on any non-tiny corpus
      assert(byCat("train") > byCat.getOrElse("val", 0L))
      assert(byCat("train") > byCat.getOrElse("test", 0L))

      val range = s.agg(min("bucket"), max("bucket")).head()
      assert(range.getLong(0) >= 0 && range.getLong(1) < 100)

      // pure function of the key: a second evaluation agrees row-for-row
      val again = Curation.hashSplit(docs)
      assert(s.join(again, Seq("doc_id", "bucket", "split")).count() === total)
    } finally s.unpersist()
  }

  test("sourceCap: at most k per source, exact quota when source is larger") {
    val k = 5
    val capped = Curation.sourceCap(docs, k).cache()
    try {
      val perSource = capped.groupBy("source").count()
      assert(perSource.filter(col("count") > k).isEmpty)
      val sizes = docs.groupBy("source").count()
        .withColumnRenamed("count", "total")
      // every source with >= k docs must contribute exactly k
      val short = perSource.join(sizes, "source")
        .filter(col("total") >= k && col("count") =!= k)
      assert(short.isEmpty)
      assert(capped.agg(max("rn")).head().getLong(0) <= k)
    } finally capped.unpersist()
  }

  test("stratifiedSample: per-stratum counts bounded and complete") {
    val r = Curation.stratifiedSample(docs, permille = 200).collect()
    assert(r.map(_.getAs[Long]("n_total")).sum === docs.count())
    r.foreach { row =>
      val total = row.getAs[Long]("n_total")
      val sampled = row.getAs[Long]("n_sampled")
      assert(sampled >= 0 && sampled <= total)
    }
  }

  test("decontaminate: planted eval overlap flagged, clean doc not") {
    import spark.implicits._
    val phrase = "zygomorphic quasar flotilla unprecedented verdigris"
    val planted = Seq(
      (10L, s"held out benchmark item with $phrase inside"), // eval (10 % 10 == 0)
      (3L,  s"training document that copied $phrase verbatim"), // contaminated
      (7L,  "completely unrelated clean training text about weather patterns"))
      .toDF("doc_id", "text")
    val flagged = Curation.decontaminate(planted).collect()
    val ids = flagged.map(_.getAs[Long]("doc_id")).toSet
    assert(ids.contains(3L), "doc sharing the planted phrase must be flagged")
    assert(!ids.contains(7L), "clean doc must not be flagged")
    assert(!ids.contains(10L), "eval docs are not part of the output")
    val n3 = flagged.find(_.getAs[Long]("doc_id") == 3L).get.getAs[Long]("n_shared")
    assert(n3 >= phrase.length - 7,
      s"shared 8-gram count $n3 must cover the planted phrase")
  }

  test("sourceMix: over-represented sources downsampled, small ones intact") {
    import spark.implicits._
    // 3 sources: one dominant (40 docs), two small (4 each) → target
    // = 48/3 = 16: the dominant source must be cut, small ones kept whole
    val skewed = ((1L to 40L).map(i => (i, "big")) ++
      (41L to 44L).map(i => (i, "s1")) ++
      (45L to 48L).map(i => (i, "s2")))
      .toDF("doc_id", "source")
    val r = Curation.sourceMix(skewed).collect()
      .map(row => row.getAs[String]("source") ->
        (row.getAs[Long]("n_total"), row.getAs[Long]("n_kept"))).toMap
    assert(r("big")._1 === 40L)
    assert(r("big")._2 < 40L, "dominant source must be downsampled")
    assert(r("s1") === ((4L, 4L)), "sources under target keep everything")
    assert(r("s2") === ((4L, 4L)))
  }

  test("temperatureMix: √count quotas, small sources boosted, budget held") {
    import spark.implicits._
    // sources 100/25/4/1 docs, budget 20. Quantized weights
    // floor(√n·1e6): 1e7, 5e6, 2e6, 1e6 → Σ=1.8e7; quotas
    // (20·w) div Σ = 11, 5, 2, 1 (the singleton capped at its size)
    val skewed = ((1L to 100L).map(i => (i, "big")) ++
      (101L to 125L).map(i => (i, "mid")) ++
      (126L to 129L).map(i => (i, "sml")) ++
      Seq((130L, "one")))
      .toDF("doc_id", "source")
    val sel = Curation.temperatureMix(skewed, budget = 20L)
    val bySrc = sel.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc === Map("big" -> 11L, "mid" -> 5L, "sml" -> 2L, "one" -> 1L))
    assert(bySrc.values.sum <= 20L)
    // the boost: "one" holds 1/130 of the corpus but 1/19 of the
    // sample — temperature flattens the mixture toward small sources
    assert(bySrc("one").toDouble / 19 > 1.0 / 130)
    // rn is contiguous 1..quota within each source, and the choice is
    // a pure function of the key (re-evaluation agrees row-for-row)
    val rns = sel.collect().groupBy(_.getAs[String]("source"))
      .view.mapValues(_.map(_.getAs[Long]("rn")).sorted.toSeq).toMap
    rns.foreach { case (s, r) => assert(r === (1L to bySrc(s)).toSeq) }
    assert(sel.join(Curation.temperatureMix(skewed, budget = 20L),
      Seq("doc_id", "source", "rn")).count() === 19L)
  }

  test("packBins: bins start at 0, monotone in pack order, bounded gaps") {
    val ctx = 64
    val bins = Curation.packBins(docs, contextLen = ctx)
      .withColumn("ord", md5(col("doc_id").cast("string")))
      .join(graft.operators.TextAnalysis.docStats(docs)
        .select(col("doc_id"), col("n_tokens")), "doc_id")
      .cache()
    try {
      // every doc assigned exactly one bin; no doc lost
      assert(bins.count() === docs.count())
      bins.collect()
        .groupBy(_.getAs[String]("source"))
        .foreach { case (source, rows) =>
          val ordered = rows.sortBy(r =>
            (r.getAs[String]("ord"), r.getAs[Long]("doc_id")))
          assert(ordered.head.getAs[Long]("bin") === 0L,
            s"first doc of $source must start in bin 0")
          ordered.sliding(2).foreach { case Array(a, b) =>
            val gap = b.getAs[Long]("bin") - a.getAs[Long]("bin")
            // a doc spanning w windows advances the next start bin by
            // at most w (exactly its cumulative-token step div ctx)
            val w = (a.getAs[Long]("n_tokens") / ctx) + 1
            assert(gap >= 0 && gap <= w,
              s"bin step $gap outside [0, $w] in $source")
          case _ => ()
          }
        }
    } finally bins.unpersist()
  }

  test("cleanCorpus: drops eval docs, dup copies, and contaminated docs") {
    import spark.implicits._
    val phrase = "polyphonic zeppelin marmalade quixotic undertow"
    val planted = Seq(
      (10L, s"benchmark item with $phrase inside", "web"), // eval
      (3L,  s"training doc that copied $phrase verbatim", "web"), // contaminated
      (5L,  "identical duplicate body text here", "web"),
      (6L,  "identical duplicate body text here", "web"), // exact dup of 5
      (7L,  "a perfectly clean training document about glaciers", "web"))
      .toDF("doc_id", "text", "source")
    val ids = Curation.cleanCorpus(planted).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(ids === Set(5L, 7L),
      "survivors must be the canonical dup (5) and the clean doc (7)")
  }

  test("rankTable: contiguous run-length ranks covering all keys") {
    import spark.implicits._
    val keyCounts = Seq(("a", 5L), ("b", 5L), ("c", 3L),
      ("d", 1L), ("e", 1L), ("f", 1L)).toDF("key", "cnt")
    val rows = DistributionFit.rankTable(keyCounts)
      .orderBy(col("cnt").desc).collect()
      .map(r => (r.getAs[Long]("cnt"), r.getAs[Long]("n_keys"),
        r.getAs[Long]("rank_start")))
    assert(rows.toSeq === Seq((5L, 2L, 1L), (3L, 1L, 3L), (1L, 3L, 4L)))
    // contiguity invariant: next rank_start = rank_start + n_keys
    rows.sliding(2).foreach { case Array((_, n, rs), (_, _, rs2)) =>
      assert(rs2 === rs + n)
    }
  }

  test("gridFitSse: planted zipf curve wins with the planted exponent") {
    import spark.implicits._
    // freq(r) = round(1000 * r^-1.2) for ranks 1..200, run-length
    // encoded the way rankTable emits it
    val freqs = (1 to 200).map(r => math.round(1000.0 * math.pow(r, -1.2)))
    val runs = freqs.zipWithIndex.groupBy(_._1).toSeq.map { case (f, xs) =>
      (f, xs.size.toLong, (xs.map(_._2).min + 1).toLong)
    }
    val rt = runs.toDF("cnt", "n_keys", "rank_start")
    val fits = DistributionFit.gridFitSse(rt).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(3))).toMap
    assert(fits.size === 4, "one row per family")
    val (zipfP1, zipfSse) = fits("zipf")
    assert(math.abs(zipfP1 - 1.2) < 1e-9, s"grid exponent $zipfP1 != 1.2")
    assert(fits.values.forall(_._2 >= zipfSse),
      s"zipf must be the min-SSE family: $fits")
  }

  test("data card: rollup levels are mutually consistent with the splits") {
    val card = Curation.dataCard(docs).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = card.filter(_._6 == 3L)
    assert(total.length === 1)
    assert(total.head._3 === docs.count())
    // each level's doc count folds up to the grand total
    Seq(0L, 1L).foreach { gid =>
      assert(card.filter(_._6 == gid).map(_._3).sum === docs.count(), s"gid=$gid")
    }
    // the split-level rows agree with hashSplit's own bucket counts
    val fromSplit = Curation.hashSplit(docs).groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    card.filter(_._6 == 1L).foreach { case (split, _, n, _, _, _) =>
      assert(n === fromSplit(split.get), s"split=$split")
    }
  }

  test("pack stats: bins are contiguous and token totals are conserved") {
    val stats = Curation.packStats(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(stats.map(_._3).sum === docs.count())
    // per source: bins run 0..max with no gaps, fill = round(1e6·tok/4096)
    stats.groupBy(_._1).foreach { case (src, rows) =>
      val bins = rows.map(_._2).sorted
      assert(bins === (0L until bins.length).toSeq, s"source=$src bins=$bins")
    }
    stats.foreach { case (_, _, _, tok, fill) =>
      assert(fill === math.round(1e6 * tok / 4096.0))
    }
    // conservation vs the assignment the report summarizes
    val viaBins = Curation.packBins(docs).count()
    assert(stats.map(_._3).sum === viaBins)
  }

  test("per-source fit emits all four families per source, zipf sane") {
    val fits = DistributionFit.sourceFit(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val bySrc = fits.groupBy(_._1)
    val nSources = docs.select("source").distinct().count()
    assert(bySrc.size === nSources)
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_._2).sorted.toSeq ===
        Seq("lognormal", "pareto", "poisson", "zipf"), s"source=$src")
      // word frequencies are zipf-shaped: the chosen exponent must be
      // inside the grid's interior, not railed at an endpoint
      val zipfP1 = rows.find(_._2 == "zipf").get._3
      assert(zipfP1 > 0.0 && zipfP1 <= 3.0, s"source=$src p1=$zipfP1")
    }
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val oldSnap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "fp")
    val newSnap = Seq((2L, "b"), (3L, "x"), (4L, "d")).toDF("doc_id", "fp")
    val got = Curation.snapshotDiff(oldSnap, newSnap)
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }

  test("weightedSample: k rows, exact A-ES key recompute, heavy-weight bias") {
    import spark.implicits._
    val k = 25
    val sample = Curation.weightedSample(docs, k).cache()
    try {
      assert(sample.count() === k)
      // row-for-row key recompute in plain Scala (independent md5/ln)
      val rows = sample.select("doc_id", "n_tok", "aes_key")
        .as[(Long, Long, Long)].collect()
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.foreach { case (id, w, key) =>
        val hex = md.digest(s"ws:$id".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(12)
        val h = java.lang.Long.parseLong(hex, 16)
        val lnuMicro =
          math.floor(1e6 * math.log((h + 1).toDouble / 281474976710656.0)).toLong
        assert(key === -((-lnuMicro) / w), s"doc $id")
      }
      // determinism: a second evaluation returns the identical set
      val again = Curation.weightedSample(docs, k)
        .select("doc_id").as[Long].collect().toSet
      assert(again === rows.map(_._1).toSet)
      // A-ES bias: sampling weights are token counts, so the sampled
      // mean weight must be >= the corpus mean (strict inequality is
      // distribution-dependent; equality would mean no bias at all)
      val sampleMean = rows.map(_._2).sum.toDouble / rows.length
      val corpusMean = docs
        .select(greatest(graft.operators.TextAnalysis.tokenCount(col("text"))
          .cast("long"), lit(1L)).as("w"))
        .agg(avg("w")).as[Double].head()
      assert(sampleMean >= corpusMean * 0.95,
        s"sample mean $sampleMean vs corpus mean $corpusMean")
    } finally sample.unpersist()
  }

  test("tokenBudgetTrim equals the greedy prefix recompute, budget held") {
    import spark.implicits._
    val budget = 300L
    val got = Curation.tokenBudgetTrim(docs, budget)
      .as[(Long, Double, Long, Boolean)].collect()
    // independent greedy recompute: walk (quality desc, doc_id asc),
    // keep while the running token total stays within budget, stop at
    // the first overflow
    val order = got.sortBy(r => (-r._2, r._1))
    var cum = 0L; var stopped = false
    val want = order.map { case (id, _, n, _) =>
      if (!stopped && cum + n <= budget) { cum += n; id -> true }
      else { stopped = true; id -> false }
    }.toMap
    got.foreach { case (id, _, _, keep) =>
      assert(keep === want(id), s"doc $id") }
    val keptTokens = got.filter(_._4).map(_._3).sum
    assert(keptTokens <= budget && keptTokens > 0)
  }

  test("contaminationByBenchmark: leak lands in its benchmark only") {
    import spark.implicits._
    // (doc_id div 10) parity: doc 20 -> benchA, doc 10 -> benchB
    val planted = Seq(
      (20L, "zqxwvuts leak marker phrase"),        // benchA eval doc
      (10L, "totally unrelated benchmark items"),  // benchB eval doc
      (21L, "train doc carrying zqxwvuts leak"),   // train, leaks into A
      (1L, "innocent train doc about nothing")     // train, clean
    ).toDF("doc_id", "text")
    val got = Curation.contaminationByBenchmark(planted)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("benchA")._1 === 1L)
    assert(got("benchA")._2 === 1L, "doc 21 contaminates benchA")
    assert(got("benchA")._3 >= 1L)
    assert(got("benchB") === ((1L, 0L, 0L)), "benchB stays clean")
  }

  test("weightedSamplePerSource: exact per-source quotas, keys match the global sampler") {
    import spark.implicits._
    val k = 5
    val per = Curation.weightedSamplePerSource(docs, k).cache()
    try {
      val counts = per.groupBy("source").count()
        .as[(String, Long)].collect().toMap
      val sizes = docs.groupBy("source").count()
        .as[(String, Long)].collect().toMap
      sizes.foreach { case (src, n) =>
        assert(counts.getOrElse(src, 0L) === math.min(n, k.toLong),
          s"source $src")
      }
      // the A-ES key formula is shared with the global sampler: any
      // doc in both outputs carries the identical key
      val global = Curation.weightedSample(docs, 1000)
        .select("doc_id", "aes_key").as[(Long, Long)].collect().toMap
      per.select("doc_id", "aes_key").as[(Long, Long)].collect()
        .foreach { case (id, key) =>
          assert(global.get(id).forall(_ === key), s"doc $id key drift") }
      // rank is dense 1..quota within each source
      val ranks = per.select("source", "rn").as[(String, Long)].collect()
        .groupBy(_._1).map { case (s, rs) => s -> rs.map(_._2).sorted.toSeq }
      ranks.foreach { case (src, rs) =>
        assert(rs === (1L to rs.size.toLong), s"source $src ranks $rs") }
    } finally per.unpersist()
  }

  test("scd2 builds one interval per island: change, delete, late, blip") {
    import spark.implicits._
    val snaps = Seq(
      // stable key across all three snapshots
      (1L, "a", 0L), (1L, "a", 1L), (1L, "a", 2L),
      // fingerprint change at snap 2
      (2L, "b", 0L), (2L, "b", 1L), (2L, "B", 2L),
      // deleted after snap 0
      (3L, "c", 0L),
      // late arrival at snap 1
      (4L, "d", 1L), (4L, "d", 2L),
      // absent at snap 1 only (blip) — same fp must still split
      (5L, "e", 0L), (5L, "e", 2L)
    ).toDF("doc_id", "fp", "snap")
    val got = Curation.scd2(snaps)
      .select("doc_id", "fp", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .toSet
    assert(got === Set(
      (1L, "a", 0L, -1L, true),
      (2L, "b", 0L, 2L, false), (2L, "B", 2L, -1L, true),
      (3L, "c", 0L, 1L, false),
      (4L, "d", 1L, -1L, true),
      (5L, "e", 0L, 1L, false), (5L, "e", 2L, -1L, true)))
  }

  test("scd2 over snapshotSeries: every bucket shape appears, point-in-time consistent") {
    import spark.implicits._
    val series = Curation.snapshotSeries(docs)
    val hist = Curation.scd2(series).cache()
    try {
      // reconstructing snapshot 1 from the intervals must equal the
      // snapshot itself (the SCD2 guarantee the warehouse relies on)
      val at1 = hist.filter(col("valid_from") <= 1 &&
          (col("valid_to").isNull || col("valid_to") > 1))
        .select("doc_id", "fp")
      val s1 = series.filter(col("snap") === 1).select("doc_id", "fp")
      assert(at1.exceptAll(s1).isEmpty && s1.exceptAll(at1).isEmpty)
      // revised docs (bucket 3) have exactly two intervals
      val b3 = docs.select(Curation.hashBucket(col("doc_id"), 10)
        .as("b"), col("doc_id")).filter(col("b") === 3)
        .select("doc_id").as[Long].collect().toSet
      if (b3.nonEmpty) {
        val nIntervals = hist.filter(col("doc_id").isin(b3.toSeq: _*))
          .groupBy("doc_id").count().select("count").as[Long]
          .collect().toSet
        assert(nIntervals === Set(2L))
      }
    } finally hist.unpersist()
  }

  test("qualityGate keeps exactly floor(0.9·n) per source, worst dropped") {
    val gated = Curation.qualityGate(docs, keepPermille = 900).cache()
    try {
      assert(gated.count() === docs.count()) // a flag, not a filter
      val per = gated.groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("kept"))
        .collect()
      per.foreach { r =>
        val (n, kept) = (r.getAs[Long]("n"), r.getAs[Long]("kept"))
        assert(kept === 900L * n / 1000L, s"source=${r.getString(0)}")
      }
      // the cut is by score: every dropped doc scores <= every kept one
      val bounds = gated.groupBy("source")
        .agg(min(when(col("keep"), col("quality"))).as("worst_kept"),
          max(when(!col("keep"), col("quality"))).as("best_dropped"))
        .collect()
      bounds.filter(r => !r.isNullAt(2)).foreach { r =>
        assert(r.getDouble(2) <= r.getDouble(1), s"source=${r.getString(0)}")
      }
    } finally gated.unpersist()
  }

  test("dsirResample keep matches the log-space rule row-for-row") {
    import spark.implicits._
    val got = Curation.dsirResample(docs)
      .select("doc_id", "dsir_micro", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(got.length === docs.count())
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (id, wMicro, keep) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(12)
      val h = java.lang.Long.parseLong(hex, 16)
      val lnuMilli =
        math.floor(1000.0 * math.log((h + 1).toDouble / 281474976710656.0)).toLong
      val wMilli = math.floor(wMicro.toDouble / 1000.0).toLong
      assert(keep === (lnuMilli < wMilli), s"doc $id: w_micro=$wMicro h=$h")
    }
    // a non-negative weight (exp(w) >= 1) can never be dropped
    got.filter(_._2 >= 0).foreach { case (id, _, keep) =>
      assert(keep, s"doc $id has w >= 0 but was dropped")
    }
  }

  test("contaminationFraction flags the leaked eval doc, not the clean one") {
    import spark.implicits._
    val leaked = "this exact benchmark passage leaked into the training corpus verbatim"
    val fixture = Seq(
      (1L, leaked), // train copy of the eval passage
      (2L, "ordinary training document with its own unrelated content here"),
      (10L, leaked), // eval doc (id % 10 == 0), fully leaked
      (20L, "zyxw vutsrq ponmlk jihgfe dcba qwerty uiop zxcvbnm asdfghjkl")
    ).toDF("doc_id", "text")
    val got = Curation.contaminationFraction(fixture)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (id, n, c, f) => id -> ((n, c, f)) }.toMap
    // only eval docs appear; the leaked one is fully covered, the
    // pristine one shares nothing
    assert(got.keySet === Set(10L, 20L))
    assert(got(10L)._3 === 1.0)
    assert(got(20L)._2 === 0L)
    assert(got(20L)._3 === 0.0)
  }

  test("sourceKlDrift: matching sources score near zero, drifted source dominates") {
    import spark.implicits._
    val same = "alpha beta gamma delta epsilon zeta eta theta"
    val fixture = Seq(
      (1L, "s0", same), (2L, "s0", same), (3L, "s1", same),
      (10L, "s2", "omega sigma tau upsilon phi chi psi totally different words")
    ).toDF("doc_id", "source", "text")
    val got = Curation.sourceKlDrift(fixture)
      .select("source", "kl_micro").as[(String, Long)].collect().toMap
    // KL >= 0 always (Gibbs); the drifted source is the outlier
    assert(got.keySet === Set("s0", "s1", "s2"))
    assert(got.values.forall(_ >= 0L))
    assert(got("s2") > got("s0") && got("s2") > got("s1"))
    // a source whose distribution IS the corpus distribution scores 0
    val uniform = Seq((1L, "a0", same), (2L, "a1", same))
      .toDF("doc_id", "source", "text")
    val zeros = Curation.sourceKlDrift(uniform)
      .select("source", "kl_micro").as[(String, Long)].collect().toMap
    assert(zeros === Map("a0" -> 0L, "a1" -> 0L))
  }

  test("epochShuffle: complete, shard-contiguous, epoch-decorrelated, shard-order-free") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs.count()
    val e1 = Curation.epochShuffle(docs, epoch = 1, nShards = 4)
      .as[(Long, Long, Long)].collect()
    // complete: every doc exactly once; shards in range
    assert(e1.length === n)
    assert(e1.map(_._1).distinct.length === n)
    assert(e1.forall(r => r._2 >= 0 && r._2 < 4))
    // per shard, positions are contiguous 1..|shard|
    e1.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.sameElements(1L to rows.length),
        s"shard $sh positions not contiguous")
    }
    // deterministic under repartition (shard-order-free)
    val again = Curation.epochShuffle(docs.repartition(7), epoch = 1, nShards = 4)
      .as[(Long, Long, Long)].collect()
    assert(again.sorted.sameElements(e1.sorted))
    // a different epoch reshuffles: most docs move shard or position
    val e2 = Curation.epochShuffle(docs, epoch = 2, nShards = 4)
      .as[(Long, Long, Long)].collect()
    val m1 = e1.map(r => r._1 -> ((r._2, r._3))).toMap
    val moved = e2.count(r => m1(r._1) != ((r._2, r._3)))
    assert(moved.toDouble / n > 0.9,
      s"epoch change must decorrelate the order, only $moved/$n moved")
    // shards are roughly balanced (md5 is uniform): no shard over 2x
    // the even share on the 500-doc fixture
    val sizes = e1.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.values.forall(_ <= 2 * n / 4), s"unbalanced shards: $sizes")
  }

  test("shardManifest: stats exact, order-free, flips on any change") {
    import spark.implicits._
    def manifest(rows: Seq[(Long, String, String)]) =
      Curation.shardManifest(rows.toDF("doc_id", "text", "split"))
        .select("split", "n_docs", "n_tok", "content_md5")
        .as[(String, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val base = Seq((1L, "alpha beta", "s0"), (2L, "gamma delta", "s0"),
      (3L, "epsilon zeta eta", "s1"))
    val m = manifest(base)
    assert(m("s0")._1 === 2L && m("s0")._2 === 4L)
    assert(m("s1")._1 === 1L && m("s1")._2 === 3L)
    // row order must not change the receipt
    assert(manifest(base.reverse) === m)
    // a text edit flips ONLY its own shard's hash
    val edited = manifest(base.map {
      case (2L, _, s) => (2L, "gamma delta prime", s); case r => r })
    assert(edited("s0")._3 !== m("s0")._3)
    assert(edited("s1") === m("s1"))
    // a same-text membership swap (twin doc under a new id) flips the
    // hash too — identity is part of the receipt
    val swapped = manifest(base.map {
      case (2L, t, s) => (9L, t, s); case r => r })
    assert(swapped("s0")._3 !== m("s0")._3)
    assert(swapped("s0")._1 === 2L && swapped("s0")._2 === 4L)
    // a NULL-text doc is counted AND hashed (sentinel fp — a NULL
    // concat unit would silently vanish from concat_ws)
    val withNull = manifest(base :+ (5L, null.asInstanceOf[String], "s1"))
    assert(withNull("s1")._1 === 2L && withNull("s1")._2 === 3L)
    assert(withNull("s1")._3 !== m("s1")._3)
    // hierarchical form: identical stats, order-free, same
    // sensitivity (a unit edit flips exactly its shard's receipt)
    def hier(rows: Seq[(Long, String, String)]) =
      Curation.shardManifest(rows.toDF("doc_id", "text", "split"),
          subShards = 4)
        .select("split", "n_docs", "n_tok", "content_md5")
        .as[(String, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val h = hier(base)
    assert(h.view.mapValues(v => (v._1, v._2)).toMap ===
      m.view.mapValues(v => (v._1, v._2)).toMap)
    assert(hier(base.reverse) === h)
    val hEdited = hier(base.map {
      case (2L, _, s) => (2L, "gamma delta prime", s); case r => r })
    assert(hEdited("s0")._3 !== h("s0")._3)
    assert(hEdited("s1") === h("s1"))
    // the COMMUTATIVE digest is grouping-independent: flat and
    // hierarchical forms agree on content_dig61 (a modular sum
    // re-folds; the md5 forms differ by construction), it is
    // order-free, and it flips on a unit edit
    def dig(rows: Seq[(Long, String, String)], sub: Int) =
      Curation.shardManifest(rows.toDF("doc_id", "text", "split"),
          subShards = sub)
        .select("split", "content_dig61")
        .as[(String, Long)].collect().toMap
    val dFlat = dig(base, 1)
    assert(dig(base, 4) === dFlat, "flat and hierarchical digests differ")
    assert(dig(base.reverse, 1) === dFlat)
    val dEdited = dig(base.map {
      case (2L, _, s) => (2L, "gamma delta prime", s); case r => r }, 1)
    assert(dEdited("s0") !== dFlat("s0"))
    assert(dEdited("s1") === dFlat("s1"))
  }

  test("manifestDiff: all four statuses with exact deltas") {
    import spark.implicits._
    def man(rows: Seq[(Long, String, String)]) =
      Curation.shardManifest(rows.toDF("doc_id", "text", "split"))
    val oldRows = Seq((1L, "alpha beta", "s0"), (2L, "gamma", "s1"),
      (3L, "delta", "s2"))
    // s0 untouched; s1's doc grows by 2 tokens; s2 removed; s3 added
    val newRows = Seq((1L, "alpha beta", "s0"),
      (2L, "gamma more words", "s1"), (4L, "eps zeta", "s3"))
    val got = Curation.manifestDiff(man(oldRows), man(newRows))
      .as[(String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      "s0" -> (("unchanged", 0L, 0L)),
      "s1" -> (("changed", 0L, 2L)),
      "s2" -> (("removed", -1L, -1L)),
      "s3" -> (("added", 1L, 2L))))
  }

  test("updatedSubManifest: fold == from-scratch, a one-doc batch touches exactly its cell") {
    import spark.implicits._
    val withSplit = docs.join(
      Curation.hashSplit(docs).select("doc_id", "split"), Seq("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("split", "sub", "n_docs", "n_tok", "sub_md5")
        .collect().map(_.toString).toSet
    // fold over an even/odd split == the from-scratch cell table
    val store = Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 0), subShards = 4)
    val batch = Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
    val folded = Curation.updatedSubManifest(
      Curation.subManifestFromUnits(store), store, batch)
    val scratch = Curation.subManifestFromUnits(
      Curation.manifestUnits(withSplit, subShards = 4))
    assert(rows(folded) === rows(scratch))
    // and the derived shard receipt equals shardManifest(subShards=4)
    val receipt = Curation.manifestFromSub(folded)
      .collect().map(_.toString).toSet
    val direct = Curation.shardManifest(withSplit, subShards = 4)
      .collect().map(_.toString).toSet
    assert(receipt === direct)
    // one-doc batch: exactly ONE cell row differs from the prior
    // sub-manifest (the doc's (split, sub)); every other row carries
    // over verbatim
    val someId = withSplit.select("doc_id").as[Long].head()
    val rest = withSplit.filter(col("doc_id") =!= someId)
    val restUnits = Curation.manifestUnits(rest, subShards = 4)
    val sub0 = Curation.subManifestFromUnits(restUnits)
    val oneBatch = Curation.manifestUnits(
      withSplit.filter(col("doc_id") === someId), subShards = 4)
    val sub1 = Curation.updatedSubManifest(sub0, restUnits, oneBatch)
    val changed = rows(sub1) -- rows(sub0)
    assert(changed.size === 1, s"one-doc fold changed ${changed.size} cells")
    val cell = oneBatch.select("split", "sub").as[(String, Long)].head()
    val sub1Map = sub1.select("split", "sub", "n_docs")
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val sub0Map = sub0.select("split", "sub", "n_docs")
      .as[(String, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(sub1Map(cell) === sub0Map.getOrElse(cell, 0L) + 1L,
      "the touched cell did not gain exactly the batch doc")
  }

  test("retractedSubManifest: takedown == from-scratch, emptied cells vanish") {
    import spark.implicits._
    val withSplit = docs.join(
      Curation.hashSplit(docs).select("doc_id", "split"), Seq("doc_id"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("split", "sub", "n_docs", "n_tok", "sub_md5")
        .collect().map(_.toString).toSet
    val store = Curation.manifestUnits(withSplit, subShards = 4)
    val sub0 = Curation.subManifestFromUnits(store)
    // takedown identity: retract(sub(all), odd) == sub(even)
    val removed = Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
    val retracted = Curation.retractedSubManifest(sub0, store, removed)
    val scratch = Curation.subManifestFromUnits(Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 0), subShards = 4))
    assert(rows(retracted) === rows(scratch),
      "takedown receipt must equal from-scratch over the survivors")
    // and the derived shard receipt matches shardManifest over them
    val receipt = Curation.manifestFromSub(retracted)
      .collect().map(_.toString).toSet
    val direct = Curation.shardManifest(
      withSplit.filter(col("doc_id") % 2 === 0), subShards = 4)
      .collect().map(_.toString).toSet
    assert(receipt === direct)
    // a cell whose every member is retracted VANISHES (from-scratch
    // over the survivors has no such row, so zero-doc residue would
    // break receipt interchange): empty one whole (split, sub) cell
    val someCell = store.select("split", "sub")
      .as[(String, Long)].head()
    val cellUnits = store.filter(
      col("split") === someCell._1 && col("sub") === someCell._2)
    val subAfter = Curation.retractedSubManifest(sub0, store, cellUnits)
    val left = subAfter.filter(
      col("split") === someCell._1 && col("sub") === someCell._2).count()
    assert(left === 0L, "an emptied cell left a residue row")
    // untouched cells carried over verbatim
    assert((rows(sub0) -- rows(subAfter)).size === 1,
      "emptying one cell must change exactly that cell")
  }

  test("signedSubDigest: +full/−odd fold == digest columns over survivors; negative raises") {
    import spark.implicits._
    val withSplit = docs.join(
      Curation.hashSplit(docs).select("doc_id", "split"), Seq("doc_id"))
    val full = Curation.manifestUnits(withSplit, subShards = 4)
      .withColumn("op", lit(1L))
    val odd = Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
      .withColumn("op", lit(-1L))
    val got = Curation.signedSubDigest(full.unionByName(odd))
      .select("split", "sub", "n_docs", "n_tok", "sub_dig61")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val want = Curation.subManifestFromUnits(Curation.manifestUnits(
        withSplit.filter(col("doc_id") % 2 === 0), subShards = 4))
      .select("split", "sub", "n_docs", "n_tok", "sub_dig61")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === want,
      "the signed fold must equal the batch receipt digests over survivors")
    // over-retraction is corruption, not state: retracting units that
    // were delivered once and retracted twice leaves every touched
    // cell negative — must raise, never emit a negative cell
    val oddIn = Curation.manifestUnits(
      withSplit.filter(col("doc_id") % 2 === 1), subShards = 4)
      .withColumn("op", lit(1L))
    val ex = intercept[Exception] {
      Curation.signedSubDigest(oddIn.unionByName(odd).unionByName(odd))
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("gateThresholds + compositeGateFrom: served == windowed gate; quota-0 source drops") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    val (lm, consts) = TextAnalysis.nbModel(docs, pos, neg)
    val thr = Curation.gateThresholds(docs, pos, neg)
    // deriving the cuts from the trained model (one training pass)
    // yields the identical table
    assert(Curation.gateThresholdsFrom(lm, consts, docs)
      .collect().map(_.toString).sorted.toSeq ===
      thr.collect().map(_.toString).sorted.toSeq)
    // the served gate on the training corpus == the windowed gate
    val served = Curation.compositeGateFrom(thr, lm, consts, docs)
      .collect().map(_.toString).sorted.toSeq
    val windowed = Curation.compositeGate(docs, pos, neg)
      .collect().map(_.toString).sorted.toSeq
    assert(served === windowed)
    // one boundary row per source that keeps anything
    val srcCount = docs.select("source").distinct().count()
    assert(thr.count() <= srcCount && thr.count() > 0)
    // a single-doc source has quota floor(0.9*1)=0: no threshold row,
    // its doc served as ok_nb = false
    val lone = Seq((99999991L, "the data table is a query of the scan " +
      "and the index is a table of the data stream window fast scan",
      "en", "solo_src", 100L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val grown = docs.select("doc_id", "text", "lang", "source", "n_chars")
      .unionByName(lone)
    val thr2 = Curation.gateThresholds(grown, pos, neg)
    assert(thr2.filter(col("source") === "solo_src").count() === 0,
      "quota-0 source must emit no threshold row")
    val (lm2, consts2) = TextAnalysis.nbModel(grown, pos, neg)
    val soloRow = Curation.compositeGateFrom(thr2, lm2, consts2, grown)
      .filter(col("source") === "solo_src")
      .select("ok_nb", "keep").as[(Boolean, Boolean)].collect()
    assert(soloRow.length === 1 && !soloRow.head._1 && !soloRow.head._2,
      "the quota-0 source's doc must be NB-dropped in the served gate")
    // and the served form matches the windowed form on the grown
    // corpus too (the tie/boundary predicate is exact, not approximate)
    val served2 = Curation.compositeGateFrom(thr2, lm2, consts2, grown)
      .collect().map(_.toString).sorted.toSeq
    val windowed2 = Curation.compositeGate(grown, pos, neg)
      .collect().map(_.toString).sorted.toSeq
    assert(served2 === windowed2)
  }

  test("compositeGate: keep is the conjunction, per-source NB cut exact, every rule bites") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val rows = Curation.compositeGate(docs)
      .select("doc_id", "source", "llr_micro", "entropy_milli",
        "ok_nb", "ok_gopher", "ok_entropy", "keep")
      .as[(Long, String, Long, Long, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    // universe = the NB-scorable docs (q156's contract)
    val scorable = TextAnalysis.nbClassifierScores(docs,
      posSources = Seq("src0", "src1", "src2"),
      negSources = Seq("src3", "src4", "src5")).count()
    assert(rows.length.toLong === scorable)
    // keep == ok_nb && ok_gopher && ok_entropy, row for row
    rows.foreach { case (id, _, _, _, nb, g, e, k) =>
      assert(k === (nb && g && e), s"doc $id: keep is not the conjunction")
    }
    // the per-source NB cut is exactly qualityGate's integer rule:
    // #ok_nb per source == #{rn : rn*1000 <= 900*n} == floor(0.9*n)
    rows.groupBy(_._2).foreach { case (src, rs) =>
      val n = rs.length.toLong
      val expected = (900L * n) / 1000L
      assert(rs.count(_._5).toLong === expected,
        s"$src: NB cut kept ${rs.count(_._5)} of $n, expected $expected")
      // and the kept set IS the top of the (llr desc, doc_id asc) order
      val order = rs.sortBy(r => (-r._3, r._1)).map(_._1)
      val kept = rs.filter(_._5).map(_._1).toSet
      assert(order.take(expected.toInt).toSet === kept,
        s"$src: NB keeps are not the llr-rank prefix")
    }
    // entropy attribution matches the band
    rows.foreach { case (id, _, _, em, _, _, e, _) =>
      assert(e === (em >= 3900L && em <= 4500L), s"doc $id: ok_entropy wrong")
    }
    // non-degenerate: keeps AND per-rule drops both exist (the
    // entropy CEILING intentionally doesn't bite — it's the noise
    // guard; the floor must)
    assert(rows.exists(_._8), "gate kept nothing")
    assert(rows.exists(!_._5), "NB rule never fired")
    assert(rows.exists(!_._6), "gopher rule never fired")
    assert(rows.exists(r => !r._7 && r._4 < 3900L), "entropy floor never fired")
  }

  test("artifactManifest: deterministic receipts, flip on any change, null/dup/boundary-safe") {
    import spark.implicits._
    def receipts(arts: Seq[(String, org.apache.spark.sql.DataFrame)]) =
      Curation.artifactManifest(arts)
        .select("artifact", "n_docs", "content_md5")
        .as[(String, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    val a = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "fp")
    val b = Seq(("src0", 10L, 5L), ("src1", 20L, 6L))
      .toDF("source", "thr_llr_micro", "thr_doc_id")
    val r0 = receipts(Seq("a" -> a, "b" -> b))
    assert(r0("a")._1 === 2L && r0("b")._1 === 2L)
    // determinism: same inputs → bit-identical receipts
    assert(receipts(Seq("a" -> a, "b" -> b)) === r0)
    // one changed cell flips exactly that artifact's receipt
    val b2 = Seq(("src0", 10L, 5L), ("src1", 21L, 6L))
      .toDF("source", "thr_llr_micro", "thr_doc_id")
    val r1 = receipts(Seq("a" -> a, "b" -> b2))
    assert(r1("a") === r0("a"))
    assert(r1("b")._2 != r0("b")._2)
    // and manifestDiff reads the flip: a unchanged, b changed
    val diff = Curation.manifestDiff(
        Curation.artifactManifest(Seq("a" -> a, "b" -> b)),
        Curation.artifactManifest(Seq("a" -> a, "b" -> b2)), "artifact")
      .select("artifact", "status").as[(String, String)].collect().toMap
    assert(diff === Map("a" -> "unchanged", "b" -> "changed"))
    // duplicate-sensitive: a repeated row changes the receipt
    val aDup = a.unionAll(Seq((2L, "y")).toDF("doc_id", "fp"))
    val rDup = receipts(Seq("a" -> aDup))
    assert(rDup("a")._1 === 3L)
    assert(rDup("a")._2 != r0("a")._2)
    // NULL cell is not the empty string, and cell-boundary shifts
    // ("a","bc") vs ("ab","c") do not collide
    val withNull = Seq((1L, Some("x")), (2L, None))
      .toDF("doc_id", "fp")
    val withEmpty = Seq((1L, "x"), (2L, "")).toDF("doc_id", "fp")
    assert(receipts(Seq("n" -> withNull))("n")._2 !=
      receipts(Seq("n" -> withEmpty))("n")._2)
    val ab1 = Seq(("a", "bc")).toDF("c1", "c2")
    val ab2 = Seq(("ab", "c")).toDF("c1", "c2")
    assert(receipts(Seq("x" -> ab1))("x")._2 !=
      receipts(Seq("x" -> ab2))("x")._2)
    // an EMPTY store still gets its receipt row (canonical (0, md5("")))
    // — empty is a state, not a membership event — and the transition
    // empty <-> non-empty diffs as "changed", never added/removed
    val emptyA = a.filter($"doc_id" < 0L)
    val rE = receipts(Seq("a" -> emptyA, "b" -> b))
    assert(rE("a")._1 === 0L)
    assert(rE("a")._2 === "d41d8cd98f00b204e9800998ecf8427e")
    val diffE = Curation.manifestDiff(
        Curation.artifactManifest(Seq("a" -> emptyA, "b" -> b)),
        Curation.artifactManifest(Seq("a" -> a, "b" -> b)), "artifact")
      .select("artifact", "status").as[(String, String)].collect().toMap
    assert(diffE === Map("a" -> "changed", "b" -> "unchanged"))
  }

  test("artifactManifest: one scan per artifact store; an empty store keeps its row") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft-receipt").toString
    Seq((1L, "x"), (2L, "y")).toDF("doc_id", "fp").write.parquet(s"$dir/a")
    Seq.empty[(Long, String)].toDF("doc_id", "fp").write.parquet(s"$dir/e")
    val m = Curation.artifactManifest(Seq(
      "a" -> graft.engine.ParquetRead.parquet(spark, s"$dir/a"),
      "e" -> graft.engine.ParquetRead.parquet(spark, s"$dir/e")))
    val scans = m.queryExecution.sparkPlan
      .collect { case f: FileSourceScanExec => f }
    assert(scans.size === 2, s"${scans.size} file scans for 2 artifacts")
    val rows = m.select("artifact", "n_docs", "n_tok", "content_md5",
        "content_dig61")
      .as[(String, Long, Long, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(rows.keySet === Set("a", "e"))
    assert(rows("a")._2 === 2L)
    assert(rows("e") === (("e", 0L, 0L, "d41d8cd98f00b204e9800998ecf8427e", 0L)))
  }

  test("clusterAwareSplit: a near-dup family never straddles splits") {
    import spark.implicits._
    val d = (1L to 40L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    // planted clusters: {1,2,3} labeled comp 1, {10,11} comp 10
    val labels = Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L)).toDF("doc_id", "component", "cluster_size")
    val got = graft.operators.Curation.clusterAwareSplit(d, labels)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size === 40, "every doc gets a split")
    // the whole family carries the CANONICAL key and one split
    Seq(1L, 2L, 3L).foreach { id =>
      assert(got(id)._2 === 1L)
      assert(got(id)._4 === got(1L)._4, "family split apart")
    }
    assert(got(10L)._2 === 10L && got(11L)._2 === 11L)
    // unlabeled docs reduce to the plain hashSplit — same rule,
    // keyed by their own id
    val plain = graft.operators.Curation.hashSplit(d)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    (4L to 9L).foreach(id => assert(got(id)._4 === plain(id)))
    // the family's split is the CANONICAL member's plain split —
    // dups move INTO the canonical's bucket, never a third place
    assert(got(2L)._4 === plain(1L))
  }

  test("repeatPlanTemperature: √-weighted water-fill with exact Hamilton spread") {
    import spark.implicits._
    def words(n: Int, tag: String): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    // tokens: a = 6, b = 10, c = 50 → caps 12/20/100 at maxRepeat 2;
    // weights floor(1e6·√t): a 2449489, b 3162277, c 7071067
    val docs = Seq(
      (1L, "a", words(3, "x")), (2L, "a", words(3, "y")),
      (3L, "b", words(10, "z")),
      (4L, "c", words(50, "w"))
    ).toDF("doc_id", "source", "text")
    def plan(budget: Long) =
      Curation.repeatPlanTemperature(docs, budget, maxRepeat = 2)
        .select($"source", $"n_tokens", $"w_micro", $"capacity",
          $"alloc_tokens", $"epochs_milli", $"capped")
        .as[(String, Long, Long, Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
    // hand water-fill at B=60: nothing caps under √ weights
    // (12·W ≤ 60·w_a fails); Hamilton bases 11/14/33, the 2 leftover
    // tokens go to the largest remainders (b, then a)
    val p60 = plan(60)
    assert(p60("a")._3 === 2449489L && p60("b")._3 === 3162277L &&
      p60("c")._3 === 7071067L, "quantized √ weights diverge")
    assert(p60.values.forall(!_._7), "√ weights must leave B=60 uncapped")
    assert(p60("a")._5 === 12L && p60("b")._5 === 15L && p60("c")._5 === 33L,
      s"hand-computed apportionment diverges: ${p60.values.map(_._5)}")
    assert(p60.values.map(_._5).sum === 60L, "exact budget conservation")
    // over capacity: everyone caps
    val p200 = plan(200)
    assert(p200.values.forall(_._7))
    assert(p200.values.map(_._5).sum === 132L)
    // tiny budget: Hamilton bases 1/2/5, leftovers to a then c
    val p10 = plan(10)
    assert(p10("a")._5 === 2L && p10("b")._5 === 2L && p10("c")._5 === 6L,
      s"hand-computed B=10 apportionment diverges: ${p10.values.map(_._5)}")
    assert(p10.values.map(_._5).sum === 10L)
  }

  test("repeatPlan: water-fill caps small sources, spreads the remainder exactly") {
    import spark.implicits._
    // token counts by construction: a = 6, b = 10, c = 50
    def words(n: Int, tag: String): String =
      (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, "a", words(3, "x")), (2L, "a", words(3, "y")),
      (3L, "b", words(10, "z")),
      (4L, "c", words(50, "w"))
    ).toDF("doc_id", "source", "text")
    def plan(budget: Long) =
      Curation.repeatPlan(docs, budget, maxRepeat = 2)
        .select($"source", $"n_tokens", $"capacity", $"alloc_tokens",
          $"epochs_milli", $"capped")
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> r).toMap
    // caps: a=12, b=20, c=100. Budget 60: a and b cap (12·3=36≤60;
    // 20·2=40≤48), c takes the remaining 28 — allocations sum to B
    val p60 = plan(60)
    assert(p60("a") === (("a", 6L, 12L, 12L, 2000L, true)))
    assert(p60("b") === (("b", 10L, 20L, 20L, 2000L, true)))
    assert(p60("c") === (("c", 50L, 100L, 28L, 560L, false)))
    // budget over total capacity: everyone caps at maxRepeat epochs
    val p200 = plan(200)
    assert(p200.values.forall(_._6), "over-capacity budget must cap all")
    assert(p200.values.map(_._4).sum === 132L, "allocs == total capacity")
    // tiny budget: nobody caps, equal shares
    val p9 = plan(9)
    assert(p9.values.forall(!_._6))
    assert(p9.values.forall(_._4 === 3L))
    // remainder spreads one token each in (capacity, source) order
    val p10 = plan(10)
    assert(p10("a")._4 === 4L && p10("b")._4 === 3L && p10("c")._4 === 3L)
    assert(p10.values.map(_._4).sum === 10L, "exact budget conservation")
  }
}
