package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, TextAnalysis}
import graft.plans.{CharEntropyExpression, GraftExtensions}
import graft.sources.Tables

/** Round-6 text-signal operators: Gopher rule flags, DSIR importance
  * weights, the codegen'd char-entropy expression, and PMI
  * collocations. Oracle-gated as q77-q80; these specs pin the planted
  * semantics the DuckDB hash can't explain on its own.
  */
class TextSignalsSpec extends SparkSpec {
  import spark.implicits._

  // ---- charEntropy (q79) -----------------------------------------

  test("char entropy: closed-form cases (uniform, constant, empty)") {
    def e(s: String): Long = Seq(Tuple1(s)).toDF("t")
      .select(CharEntropyExpression.charEntropyMilli($"t")).as[Long].head()
    assert(e("aaaa") === 0L)        // constant: 0 bits
    assert(e("") === 0L)            // empty: defined as 0
    assert(e("abab") === 1000L)     // two equiprobable symbols: 1 bit
    assert(e("abcdabcd") === 2000L) // four equiprobable symbols: 2 bits
  }

  test("char entropy expression == driver-side recomputation on real docs") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val got = TextAnalysis.charEntropy(docs)
      .select($"doc_id", $"entropy_milli").as[(Long, Long)].collect().toMap
    val texts = docs
      .select($"doc_id", trim(regexp_replace(lower($"text"), "\\s+", " ")))
      .as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, t) =>
      val n = t.codePointCount(0, t.length).toDouble
      val ref =
        if (n == 0) 0L
        else t.codePoints().toArray.groupBy(identity).values.map { g =>
          val c = g.length.toDouble
          math.floor(1e3 * c * (math.log(n / c) / math.log(2.0)) / n + 0.5).toLong
        }.sum
      assert(got(id) === ref, s"doc $id")
    }
  }

  test("char_entropy_milli is SQL-registered") {
    GraftExtensions.register(spark)
    assert(spark.sql("SELECT char_entropy_milli('abab')").as[Long].head() === 1000L)
  }

  // ---- gopherRules (q77) -----------------------------------------

  test("gopher rules: each planted defect trips exactly its own flag") {
    val good = ((1 to 58).map(i => f"word$i%02d") ++ Seq("the", "a")).mkString(" ")
    val short = "the a word01 word02 word03"
    val repeated = (Seq.fill(58)("spam") ++ Seq("the", "a")).mkString(" ")
    // distinct 2-char tokens: trips ONLY the mean-word-length rule
    val tiny = ((0 until 58).map(i =>
      s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}") ++ Seq("the", "a"))
      .mkString(" ")
    val docs = Seq((1L, good), (2L, short), (3L, repeated), (4L, tiny))
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs)
      .select($"doc_id", $"ok_word_count", $"ok_word_len", $"ok_uniq",
        $"ok_stop", $"keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got(1L) === ((true, true, true, true, true)))
    assert(got(2L) === ((false, true, true, true, false)))  // too short
    assert(got(3L)._3 === false)                            // uniq trip
    assert(got(3L)._5 === false)                            // keep trips too
    assert(got(4L) === ((true, false, true, true, false)))  // word len trip
  }

  // ---- dsirWeights (q78) -----------------------------------------

  test("dsir weights rank target-like docs above off-target docs") {
    val docs = Seq(
      (1L, "src0", "alpha beta gamma alpha beta gamma"),
      (2L, "src0", "alpha gamma beta beta"),
      (3L, "src9", "alpha beta gamma"),          // looks like target
      (4L, "src9", "delta epsilon zeta"),        // off-target
      (5L, "src9", "delta zeta epsilon delta")
    ).toDF("doc_id", "source", "text")
    val got = Curation.dsirWeights(docs)
      .select($"doc_id", $"dsir_micro").as[(Long, Long)].collect().toMap
    assert(got(3L) > got(4L))
    assert(got(3L) > got(5L))
    // weights are per-token sums: the all-target-token doc is positive,
    // the all-off-target doc negative (target never emits its tokens)
    assert(got(3L) > 0L)
    assert(got(4L) < 0L)
  }

  // ---- pmiPairs (q80) --------------------------------------------

  test("pmi pairs surface the planted collocation") {
    val docs = Seq(
      (1L, "new york is big today"),
      (2L, "i love new york dearly"),
      (3L, "new york was loud yesterday"),
      (4L, "they visit new york often"),
      (5L, "snow hit new york hard"),
      (6L, "new york feels alive tonight")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.pmiPairs(docs, minCount = 5, topK = 10)
      .as[(String, String, Long, Long)].collect()
    // only "new york" recurs >= 5 times; every other bigram is unique
    assert(got.length === 1)
    val (w1, w2, c, pmi) = got.head
    assert((w1, w2, c) === (("new", "york", 6L)))
    assert(pmi > 0L)
  }

  test("rankedSearchAnd: AND semantics with relevance order") {
    val docs = Seq(
      (1L, "data query table extra words here"),
      (2L, "data query table data query table"), // doubled terms -> higher
      (3L, "data query only"),                   // missing 'table'
      (4L, "nothing relevant at all")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.rankedSearchAnd(docs,
      Seq("data", "query", "table"))
      .as[(Long, Long)].collect()
    assert(got.map(_._1).toSeq === Seq(2L, 1L),
      "both conjunctive docs, the term-heavy one first")
    assert(got(0)._2 > got(1)._2)
  }

  test("piiReport aggregates planted instances per source exactly") {
    // planting rule: email iff id % 3 == 0, url iff id % 5 == 0
    val docs = Seq(
      (1L, "clean text", "a"),   // nothing
      (3L, "email doc", "a"),    // 1 email
      (5L, "url doc", "b"),      // 1 url
      (15L, "both doc", "b")     // email + url
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.piiReport(docs)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 2L, 1L, 1L, 0L, 500000L)))
    assert(got("b") === (("b", 2L, 2L, 1L, 2L, 1000000L)))
  }

  test("bm25Batch ranks per query, saturates tf, skips term-free docs") {
    val docs = Seq(
      (1L, "data data data pad pad"),
      (2L, "data pad pad pad pad"),
      (3L, "other words entirely here now"),
      (4L, "scan table scan pad pad")
    ).toDF("doc_id", "text")
    val queries = Seq((0L, "data"), (1L, "table"), (1L, "scan"))
      .toDF("query_id", "token")
    val got = TextAnalysis.bm25Batch(docs, queries, topK = 10)
      .select("query_id", "doc_id", "score_micro", "rn")
      .as[(Long, Long, Long, Long)].collect()
    val q0 = got.filter(_._1 == 0L).sortBy(_._4)
    // only docs containing 'data' appear, higher tf first
    assert(q0.map(_._2).toSeq === Seq(1L, 2L))
    // BM25 saturation: tf=3 scores less than 3x tf=1
    assert(q0(0)._3 < 3 * q0(1)._3 && q0(0)._3 > q0(1)._3)
    val q1 = got.filter(_._1 == 1L)
    assert(q1.map(_._2).toSet === Set(4L)) // both terms only in doc 4
    assert(got.forall(_._4 >= 1L))
  }

  test("crossEntropy matches an independent driver-side recompute") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = real.select(col("doc_id"),
      Curation.hashBucket(col("doc_id"), 10).as("b"),
      lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
      .as[(Long, Long, String)].collect()
    def toks(s: String): Seq[String] =
      s.trim.split(" ").filter(_.nonEmpty).toSeq
    val tf = rows.filter(_._2 <= 7).flatMap(r => toks(r._3))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val bigT = tf.values.sum; val v = tf.size.toLong
    val denom = (bigT + v + 1).toDouble
    def lnp(t: String): Long = math.floor(1e6 *
      math.log(tf.get(t).map(_ + 1L).getOrElse(1L).toDouble / denom)).toLong
    val want = rows.filter(r => r._2 >= 8 && r._3.trim.nonEmpty)
      .map { case (id, _, norm) =>
        val ts = toks(norm)
        val nll = -ts.map(lnp).sum
        val oov = ts.count(!tf.contains(_)).toLong
        id -> ((ts.size.toLong, oov, nll / ts.size))
      }.toMap
    val got = TextAnalysis.crossEntropy(real)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want)
    assert(got.nonEmpty)
    // an OOV-heavy doc must cost more than an in-vocab doc of the
    // same length (the reserved mass is the worst probability)
    assert(got.values.forall(_._3 > 0))
  }

  test("oovReport matches an independent driver-side recompute") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val withB = real.select(col("doc_id"),
      Curation.hashBucket(col("doc_id"), 10).as("b"),
      lower(regexp_replace(col("text"), "\\s+", " ")).as("norm"))
    val rows = withB.as[(Long, Long, String)].collect()
    def toks(s: String): Seq[String] =
      s.trim.split(" ").filter(_.nonEmpty).toSeq
    val vocab = rows.filter(_._2 <= 7).flatMap(r => toks(r._3)).toSet
    val want = rows.filter(r => r._2 >= 8 && r._3.trim.nonEmpty)
      .map { case (id, _, norm) =>
      val ts = toks(norm)
      val oov = ts.count(!vocab.contains(_)).toLong
      id -> ((ts.size.toLong, oov, oov * 1000000L / ts.size))
    }.toMap
    val got = TextAnalysis.oovReport(real)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("invertedIndex: planted df/tf and byte-exact posting fingerprint") {
    val docs = Seq(
      (3L, "cat dog cat"),
      (1L, "dog bird"),
      (2L, "cat fish")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.invertedIndex(docs)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def fp(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // cat: docs {2,3} (ascending!), tf 3; dog: {1,3}; bird/fish singletons
    assert(got("cat") === ((2L, 3L, fp("2,3"))))
    assert(got("dog") === ((2L, 2L, fp("1,3"))))
    assert(got("bird") === ((1L, 1L, fp("1"))))
    assert(got("fish") === ((1L, 1L, fp("2"))))
  }

  test("nbClassifierScores: planted separation + exact integer recompute") {
    val docs = Seq(
      (1L, "good nice good", "en", "posA"),
      (2L, "nice shiny good", "en", "posA"),
      (3L, "bad awful bad", "en", "negA"),
      (4L, "awful gross bad", "en", "negA"),
      (5L, "good nice shiny thing", "en", "other"),
      (6L, "bad gross stuff", "en", "other"),
      (7L, "   ", "en", "other") // zero tokens after norm -> omitted
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis
      .nbClassifierScores(docs, Seq("posA"), Seq("negA"))
      .select($"doc_id", $"n_tok", $"llr_micro", $"pred_pos")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(got(5L)._3 === 1L && got(6L)._3 === 0L) // unlabeled routed
    // independent integer recompute (same micro-nat floors)
    def toks(s: String): Seq[String] =
      s.toLowerCase.replaceAll("\\s+", " ").trim.split(" ").filter(_.nonEmpty).toSeq
    def lnp(num: Long, den: Long): Long =
      math.floor(1e6 * math.log(num.toDouble / den.toDouble)).toLong
    val fixture = Seq(
      1L -> ("good nice good", Some(1)), 2L -> ("nice shiny good", Some(1)),
      3L -> ("bad awful bad", Some(0)), 4L -> ("awful gross bad", Some(0)),
      5L -> ("good nice shiny thing", None), 6L -> ("bad gross stuff", None))
    val labTok = fixture.collect { case (_, (t, Some(c))) => toks(t).map(_ -> c) }.flatten
    val vocab = labTok.map(_._1).distinct
    val tf = vocab.map(w => w -> ((labTok.count(p => p._1 == w && p._2 == 1).toLong,
      labTok.count(p => p._1 == w && p._2 == 0).toLong))).toMap
    val t1 = tf.values.map(_._1).sum; val t0 = tf.values.map(_._2).sum
    val v = vocab.size.toLong
    val (n1, n0) = (2L, 2L)
    val priorDiff = lnp(n1, n1 + n0) - lnp(n0, n1 + n0)
    val (oov1, oov0) = (lnp(1, t1 + v + 1), lnp(1, t0 + v + 1))
    fixture.foreach { case (id, (text, _)) =>
      val ts = toks(text)
      val llr = priorDiff + ts.map { w =>
        tf.get(w).map { case (a, b) =>
          lnp(a + 1, t1 + v + 1) - lnp(b + 1, t0 + v + 1)
        }.getOrElse(oov1 - oov0)
      }.sum
      assert(got(id) === ((ts.size.toLong, llr, if (llr > 0) 1L else 0L)),
        s"doc $id")
    }
  }

  test("nbClassifierScores fails loudly on an empty training class") {
    // Spark log(0) is NULL, not an error — without the raise_error
    // guard this would silently score every doc llr_micro = NULL,
    // pred_pos = 0
    val docs = Seq((1L, "good stuff", "en", "posA"))
      .toDF("doc_id", "text", "lang", "source")
    val e = intercept[Exception] {
      TextAnalysis.nbClassifierScores(docs, Seq("posA"), Seq("absent"))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("empty training class"))),
      s"expected the empty-class guard, got: $e")
  }

  test("nbModel artifacts round-trip through parquet == end-to-end scorer") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (pos, neg) = (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    val (lm, consts) = TextAnalysis.nbModel(docs, pos, neg)
    val dir = java.nio.file.Files.createTempDirectory("graft-nb-model").toString
    lm.write.mode("overwrite").parquet(s"$dir/lm")
    consts.write.mode("overwrite").parquet(s"$dir/consts")
    val served = TextAnalysis.nbScoreFrom(
        spark.read.parquet(s"$dir/lm"),
        spark.read.parquet(s"$dir/consts"), docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = TextAnalysis.nbClassifierScores(docs, pos, neg)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served === direct,
      "scoring off the persisted model must equal retraining end-to-end")
    assert(served.nonEmpty)
    // the per-occurrence text path and the per-(doc, token) profile
    // path sum the same integers
    val fromProfiles = TextAnalysis.nbScoreFromProfiles(lm, consts,
        TextAnalysis.tokenProfiles(docs))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(fromProfiles === TextAnalysis.nbScoreFrom(lm, consts, docs)
      .as[(Long, Long, Long, Long)].collect().toSet,
      "profile-path scores diverged from the text path")
  }

  test("nb incremental count fold == from-scratch training exactly") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (pos, neg) =
      (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    val (vtAll, dcAll) = TextAnalysis.nbCounts(docs, pos, neg)
    val (vt0, dc0) =
      TextAnalysis.nbCounts(docs.filter($"doc_id" % 2 === 0), pos, neg)
    val (vtF, dcF) = TextAnalysis.nbCountsUpdate(vt0, dc0,
      docs.filter($"doc_id" % 2 === 1), pos, neg)
    def vtSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    assert(vtSet(vtF) === vtSet(vtAll),
      "folded type counts must equal from-scratch")
    assert(dcF.as[(Long, Long)].head() === dcAll.as[(Long, Long)].head())
    // and the model derived from the fold scores identically
    val (lm, consts) = TextAnalysis.nbLmFromCounts(vtF, dcF)
    val got = TextAnalysis.nbScoreFrom(lm, consts, docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = TextAnalysis.nbClassifierScores(docs, pos, neg)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    // an all-unlabeled delivery folds as +0, not NULL
    val (vtZ, dcZ) = TextAnalysis.nbCountsUpdate(vt0, dc0,
      docs.filter($"source" === "src9"), pos, neg)
    assert(dcZ.as[(Long, Long)].head() === dc0.as[(Long, Long)].head())
    assert(vtSet(vtZ) === vtSet(vt0))
  }

  test("nb count retraction == from-scratch training on the survivors") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val (pos, neg) =
      (Seq("src0", "src1", "src2"), Seq("src3", "src4", "src5"))
    val (vtAll, dcAll) = TextAnalysis.nbCounts(docs, pos, neg)
    // takedown identity: retract(counts(all), odd) == counts(even)
    val (vtR, dcR) = TextAnalysis.nbCountsRetract(vtAll, dcAll,
      docs.filter($"doc_id" % 2 === 1), pos, neg)
    val (vtE, dcE) =
      TextAnalysis.nbCounts(docs.filter($"doc_id" % 2 === 0), pos, neg)
    def vtSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    assert(vtSet(vtR) === vtSet(vtE),
      "retracted type counts must equal from-scratch on the survivors" +
        " (zero-count tokens must LEAVE the table)")
    assert(dcR.as[(Long, Long)].head() === dcE.as[(Long, Long)].head())
    // the model derived from retracted counts scores identically to
    // re-training on the surviving corpus
    val (lm, consts) = TextAnalysis.nbLmFromCounts(vtR, dcR)
    val got = TextAnalysis.nbScoreFrom(lm, consts, docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val (lmE, constsE) = TextAnalysis.nbLmFromCounts(vtE, dcE)
    val want = TextAnalysis.nbScoreFrom(lmE, constsE, docs)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === want)
    // an all-unlabeled removal batch retracts nothing (sum over the
    // empty labeled slice is NULL, which must fold as -0)
    val (vtZ, dcZ) = TextAnalysis.nbCountsRetract(vtAll, dcAll,
      docs.filter($"source" === "src9"), pos, neg)
    assert(dcZ.as[(Long, Long)].head() === dcAll.as[(Long, Long)].head())
    assert(vtSet(vtZ) === vtSet(vtAll))
    // retracting a doc never indexed drives counts negative -> raises
    val alien = Seq((9999L, "zzqx unseen token text", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
    val e = intercept[Exception] {
      TextAnalysis.nbCountsRetract(vtAll, dcAll, alien, pos, neg)
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("negative"))),
      s"expected the negative-count guard, got: $e")
  }

  test("nbClassifierEval: diagonal confusion matrix on separable held-out") {
    val docs = (1L to 60L).map { i =>
      if (i % 2 == 0) (i, "good nice gold", "en", "posA")
      else (i, "bad awful slime", "en", "negA")
    }.toDF("doc_id", "text", "lang", "source")
    val cm = TextAnalysis.nbClassifierEval(docs, Seq("posA"), Seq("negA"))
      .select($"cls", $"pred_pos", $"n_docs").as[(Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    // vocab is perfectly class-separating -> only diagonal cells
    assert(cm.keySet.subsetOf(Set((1L, 1L), (0L, 0L))), cm.toString)
    // every held-out labeled doc (md5 bucket 8-9) is accounted for
    def bucket(i: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 10
    }
    val held = (1L to 60L).filter(bucket(_) >= 8)
    assert(held.nonEmpty)
    assert(cm.getOrElse((1L, 1L), 0L) === held.count(_ % 2 == 0).toLong)
    assert(cm.getOrElse((0L, 0L), 0L) === held.count(_ % 2 == 1).toLong)
  }

  test("nbReliability: separable vocab pins the calibration extremes") {
    val docs = (1L to 60L).map { i =>
      if (i % 2 == 0) (i, "good nice gold", "en", "posA")
      else (i, "bad awful slime", "en", "negA")
    }.toDF("doc_id", "text", "lang", "source")
    val rel = TextAnalysis.nbReliability(docs, Seq("posA"), Seq("negA"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rel.nonEmpty)
    rel.foreach { case (bin, lo, n, nPos, rate) =>
      assert(lo === bin * 200000L, "bin floor mislabeled")
      assert(nPos >= 0L && nPos <= n)
      assert(rate === nPos * 1000000L / n, "rate must be the exact ratio")
      // perfectly separating vocab: every bin is pure — positive
      // bins sit at positive llr, negative bins at negative llr
      assert(rate === 0L || rate === 1000000L, s"mixed bin $bin")
      if (rate == 1000000L) assert(bin >= 0L, "positives must score high")
      else assert(bin < 0L, "negatives must score low")
    }
    // both extremes present, and the held-out census is complete
    assert(rel.exists(_._5 == 1000000L) && rel.exists(_._5 == 0L))
    def bucket(i: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16) % 10
    }
    val held = (1L to 60L).count(bucket(_) >= 8).toLong
    assert(rel.map(_._3).sum === held, "every held-out doc lands in a bin")
    // SIGNED binning: a negative llr floors DOWN (bin -1 covers
    // [-200000, 0)) — the div-vs-floor trap the double floor avoids
    assert(rel.filter(_._1 < 0).forall(r => r._2 < 0L))
  }

  test("searchAnd returns exactly the docs containing every term") {
    val docs = Seq(
      (1L, "data query table extra"),
      (2L, "data query"),            // missing 'table'
      (3L, "table data query data"), // repeats must not double-count
      (4L, "other words entirely")
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.searchAnd(docs, Seq("data", "query", "table"))
      .as[Long].collect().toSet
    assert(hits === Set(1L, 3L))
  }

  test("ruleSignals: one-scan fusion == gopherRules ⋈ charEntropy ⋈ source, zero shuffle") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val got = TextAnalysis.ruleSignals(docs)
      .select("doc_id", "source", "ok_gopher", "entropy_milli")
      .as[(Long, String, Boolean, Long)].collect().sortBy(_._1)
    val want = TextAnalysis.gopherRules(docs)
      .select($"doc_id", $"keep".as("ok_gopher"))
      .join(TextAnalysis.charEntropy(docs)
        .select($"doc_id", $"entropy_milli"), Seq("doc_id"))
      .join(docs.select($"doc_id", $"source"), Seq("doc_id"))
      .select("doc_id", "source", "ok_gopher", "entropy_milli")
      .as[(Long, String, Boolean, Long)].collect().sortBy(_._1)
    assert(got === want)
    // and the fused scan stays expression-only (the q77/q79 plan rule)
    val plan = TextAnalysis.ruleSignals(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"ruleSignals shuffles on a key:\n$plan")
  }

  test("gopherKeepCol == gopherRules keep, row for row (single-Column twin)") {
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val got = docs.select($"doc_id",
      TextAnalysis.gopherKeepCol($"text").as("keep"))
      .as[(Long, Boolean)].collect().sortBy(_._1)
    val want = TextAnalysis.gopherRules(docs)
      .select($"doc_id", $"keep")
      .as[(Long, Boolean)].collect().sortBy(_._1)
    assert(got === want)
    assert(got.exists(_._2) && got.exists(!_._2),
      "fixture must exercise both verdicts")
  }
}
