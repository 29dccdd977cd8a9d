package graft

import java.sql.Timestamp

import graft.operators.{Dedup, Events, Similarity, TextAnalysis}
import graft.sources.Tables

/** Semantic tests of the training-data-pipeline operators on planted
  * fixtures (the DuckDB oracle checks engine parity; these check the
  * operators actually DO what they claim — find dups, rank neighbors,
  * split sessions).
  */
class TrainingOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "The quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (3L, "The quick brown fox jumps over the lazy dog and runs far away house"), // near dup of 1
    (4L, "Completely different content about distributed query engines in the cloud"),
    (5L, "der hund und die katze sind freunde und das ist ein haus")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical normalized texts") {
    val d = Dedup.exactDuplicates(docs).collect()
    assert(d.length === 4) // 1&2 merge
    val dup = d.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 1L) // keep smallest id
  }

  test("minhash+LSH finds the planted near-dup and not the distinct doc") {
    val pairs = Dedup.minhashDupPairs(docs, threshold = 0.7)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))   // exact dup must survive any threshold
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("edit-distance verify: exact dup 0, near dup small, permille rule bites") {
    val pairs = Dedup.editDistanceDupPairs(docs)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(pairs((1L, 2L)) === 0L, "exact duplicate has edit distance 0")
    val near = pairs.get((1L, 3L)).orElse(pairs.get((2L, 3L)))
    assert(near.isDefined, "the one-word near-dup must verify")
    assert(near.get > 0L && near.get <= 10L,
      s"one trailing word changed ≈ a few character edits, got $near")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L))
    // tightening the rule to permille 0 keeps only the exact pair —
    // the same candidates, the verifier's threshold does the work
    val strict = Dedup.editDistanceDupPairs(docs, maxDistPermille = 0)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(strict === Set((1L, 2L)),
      s"permille 0 must keep exactly the edist-0 pair, got $strict")
  }

  test("edit-distance verify: the prefix cap is the documented approximation") {
    // long shared head (LSH candidacy + identical prefix window),
    // then tails that differ by far more than 20%
    val head = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, s"$head alpha beta gamma delta epsilon zeta eta theta"),
      (2L, s"$head completely different closing words arrive here instead now")
    ).toDF("doc_id", "text")
    // a 40-char window sees only the shared head: verifies as dup
    val capped = Dedup.editDistanceDupPairs(d, prefixLen = 40)
      .as[(Long, Long, Long)].collect()
    assert(capped.map(r => (r._1, r._2)).toSet === Set((1L, 2L)),
      "inside the shared prefix the pair must verify (edist 0)")
    assert(capped.head._3 === 0L)
    // the default 500-char window reaches the divergent tails (~46
    // edits on a ~280-char doc): at permille 100 the pair is cut
    val full = Dedup.editDistanceDupPairs(d, maxDistPermille = 100)
      .as[(Long, Long, Long)].collect()
    assert(full.isEmpty,
      s"divergent tails must fail the permille rule, got ${full.toSeq}")
  }

  test("ngram jaccard agrees on the planted near-dup") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val h = Dedup.simhashes(docs).as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    val hamming = java.lang.Long.bitCount(h(1L) ^ h(3L))
    assert(hamming <= 6, s"hamming=$hamming")
    val hammingFar = java.lang.Long.bitCount(h(1L) ^ h(4L))
    assert(hammingFar > hamming)
  }

  test("simhash dup pairs: exact dup at hamming 0, distinct docs excluded") {
    val h = Dedup.simhashes(docs).as[(Long, Long)].collect().toMap
    val got = Dedup.simhashDupPairs(docs, maxDist = 3)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(got((1L, 2L)) === 0L) // identical text -> identical simhash
    // completeness for maxDist <= 3 (pigeonhole over 4 bands): the
    // operator must return EXACTLY the brute-force hamming<=3 pairs
    val ids = h.keys.toSeq.sorted
    val brute = (for {
      i <- ids; j <- ids if i < j
      d = java.lang.Long.bitCount(h(i) ^ h(j)) if d <= 3
    } yield (i, j) -> d.toLong).toMap
    assert(got === brute)
  }

  test("language id picks the stopword language; CJK short-circuits") {
    val d = Seq(
      (1L, "the cat and the dog of the house went to sleep in peace", "en"),
      (2L, "der hund und die katze das ist ein haus", "de"),
      (3L, "le chat et la maison les amis une belle vie", "fr"),
      (4L, "el perro los gatos las casas una vida por ahora", "es"),
      (5L, "这是一个中文文档 完全没有空格", "zh"),
      (6L, "xyzzy qwerty 12345", "und")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langId(d)
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es",
      5L -> "zh", 6L -> "und"))
  }

  test("langIdEval confusion matrix: diagonal hits plus the planted miss") {
    val d = Seq(
      (1L, "the cat and the dog of the house went to sleep in peace", "en"),
      (2L, "the cat and the dog of the house went to sleep at home", "en"),
      (3L, "der hund und die katze das ist ein haus", "de"),
      // labeled French but stopword-free word soup -> predicted 'und'
      (4L, "xyzzy qwerty 12345", "fr")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.langIdEval(d)
      .as[(String, String, Long)].collect()
      .map { case (l, p, n) => (l, p) -> n }.toMap
    assert(got === Map(
      ("en", "en") -> 2L, ("de", "de") -> 1L, ("fr", "und") -> 1L))
  }

  test("sourceLangMix shares are exact integer micro per source") {
    val d = Seq(
      (1L, "the cat and the dog of the house went to sleep in peace", "A"),
      (2L, "the cat and the dog of the house went to sleep at home", "A"),
      (3L, "der hund und die katze das ist ein haus", "A"),
      (4L, "el perro los gatos las casas una vida por ahora", "B")
    ).toDF("doc_id", "text", "source")
    val got = TextAnalysis.sourceLangMix(d)
      .as[(String, String, Long, Long)].collect()
      .map { case (s, p, n, m) => (s, p) -> ((n, m)) }.toMap
    // A: 2/3 en (666666 micro, floor), 1/3 de (333333); B: 1/1 es
    assert(got === Map(
      ("A", "en") -> ((2L, 666666L)), ("A", "de") -> ((1L, 333333L)),
      ("B", "es") -> ((1L, 1000000L))))
  }

  test("doc stats: token count and avg token length on known text") {
    val d = Seq((1L, "  ab   cd efg  ")).toDF("doc_id", "text")
    val r = TextAnalysis.docStats(d).head()
    assert(r.getLong(r.fieldIndex("n_tokens")) === 3L)
    assert(r.getLong(r.fieldIndex("n_chars_norm")) === 9L) // "ab cd efg"
    assert(math.abs(r.getDouble(r.fieldIndex("avg_token_len")) - 7.0 / 3.0) < 1e-12)
  }

  test("semanticDecontaminate finds the paraphrase-aligned train vector only") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),    // eval item
      (1L, Array(0.0f, 1.0f, 0.0f)),    // eval item, orthogonal
      (10L, Array(0.9f, 0.1f, 0.0f)),   // train: near eval 0
      (11L, Array(0.0f, 0.0f, 1.0f))    // train: orthogonal to both
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(vecs, maxEvalId = 10,
      threshold = 0.9)
      .as[(Long, Long, Double)].collect().toList
    assert(got.map(r => (r._1, r._2)) === List((10L, 0L)))
    assert(got.head._3 > 0.99 && got.head._3 <= 1.0)
  }

  test("LSH decontaminate is a subset of brute, and recalls identical leaks") {
    // an EXACT copy of an eval vector always shares every bucket
    // (identical signs) — the planted leak the LSH path cannot miss
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, 0.0f, 0.5f)),
      (1L, Array(0.0f, 1.0f, 0.3f, 0.0f)),
      (10L, Array(1.0f, 0.2f, 0.0f, 0.5f)),   // exact copy of eval 0
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val brute = Similarity.semanticDecontaminate(vecs, threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    val lsh = Similarity.semanticDecontaminateLsh(vecs, threshold = 0.9)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2)).toSet
    assert(lsh.subsetOf(brute), "LSH may only drop candidates, never add")
    assert(lsh.contains((10L, 0L)), "identical leak must be recalled")
  }

  test("vectorHealth flags zero vectors, non-finite elements, and mixed dims") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),        // nsq = 1e12
      (1L, Array(0.0f, 0.0f)),        // zero vector
      (2L, Array(0.5f, Float.NaN)),   // non-finite (NaN quantizes to 0)
      (3L, Array(1.0f, 1.0f, 1.0f))   // stray dimensionality
    ).toDF("vec_id", "embedding")
    val got = Similarity.vectorHealth(vecs)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // dim 2: 3 vecs, 1 zero, 1 non-finite; nsq = {1e12, 0, 2.5e11}
    assert(got(2L) === ((2L, 3L, 1L, 1L, 0L, 1000000000000L,
      1250000000000L / 3)))
    // dim 3: the stray vector is its own row — that row existing IS
    // the mixed-dimensionality finding
    assert(got(3L) === ((3L, 1L, 0L, 0L, 3000000000000L,
      3000000000000L, 3000000000000L)))
  }

  test("brute-force knn: self excluded, neighbors ranked by cosine desc") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f))   // farthest from 0
    ).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(vecs, maxQueryId = 1, k = 3)
      .select("cid").as[Long].collect().toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("prototypicality: centroid-aligned vector ranks first per class") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(0.0f, 1.0f), 0),   // the outlier of class 0
      (4L, Array(0.0f, -1.0f), 1)   // singleton class: cos = 1 exactly
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.prototypicality(vecs)
      .select("vec_id", "label", "proto_cos", "rn")
      .as[(Long, Int, Double, Long)].collect()
      .map { case (id, l, c, r) => id -> ((l, c, r)) }.toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    got.values.foreach { case (_, c, _) => assert(c >= -1.0 && c <= 1.0 + 1e-12) }
    // class-0 centroid (floor-mean of quantized) = [666666, 333333]:
    // the duplicated direction dominates; ties rank by vec_id asc
    assert(got(1L)._3 === 1L && got(2L)._3 === 2L && got(3L)._3 === 3L)
    assert(got(1L)._2 === got(2L)._2)
    assert(got(3L)._2 < got(1L)._2)
    assert(math.abs(got(1L)._2 - 2.0 / math.sqrt(5.0)) < 1e-4)
    // a singleton class's only member IS its centroid
    assert(got(4L)._3 === 1L && math.abs(got(4L)._2 - 1.0) < 1e-6)
  }

  test("hyperplane lsh knn: scaled twin found, opposite vector excluded") {
    // positive scaling preserves every hyperplane projection sign →
    // vec 1 shares ALL of vec 0's buckets; negation flips every sign
    // → vec 2 shares none. Element magnitudes 1 > 0.5+0.25+0.12, so
    // no ±1-coefficient combination can project vec 0 to exactly 0
    // (a zero projection would give sign '1' to BOTH v and −v and
    // weaken the exclusion).
    val vecs = Seq(
      (0L, Array(1.0f, 0.5f, 0.25f, 0.12f)),
      (1L, Array(0.9f, 0.45f, 0.225f, 0.108f)), // 0.9 × vec 0
      (2L, Array(-1.0f, -0.5f, -0.25f, -0.12f)) // −vec 0
    ).toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(vecs, maxQueryId = 1, k = 5, bits = 4)
      .select("cid", "cos").as[(Long, Double)].collect().toMap
    assert(lsh.keySet === Set(1L)) // bucket restricted
    val brute = Similarity.bruteForceTopK(vecs, maxQueryId = 1, k = 5)
      .select("cid", "cos").as[(Long, Double)].collect().toMap
    assert(lsh(1L) === brute(1L)) // identical cosine computation
  }

  test("hyperplane dup pairs: planted scaled twins all recalled") {
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // positive scalings of the first 10: cos ≈ 1 AND bucket-identical
    // in every table → recall must be exactly 1.0 for these pairs
    val twins = (0 until 10).map(i => (100L + i, base(i)._2.map(_ * 0.8f)))
    val vecs = (base ++ twins).toDF("vec_id", "embedding")
    val got = Similarity.cosineDupPairs(vecs, threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert(planted.subsetOf(got),
      s"missed planted twins: ${planted -- got}")
  }

  test("hyperplane dup pairs: hot bucket capped, small buckets kept") {
    // 6 identical vectors → one bucket of 6 per table (dropped at
    // maxBucket=4); the negated pair lives in the complement bucket
    // (size 2, kept). Magnitudes 1 > 0.5+0.25+0.12: no projection is
    // exactly 0, so negation provably flips every bucket bit.
    val hot = (1L to 6L).map(i => (i, Array(1.0f, 0.5f, 0.25f, 0.12f)))
    val pair = Seq(
      (100L, Array(-1.0f, -0.5f, -0.25f, -0.12f)),
      (101L, Array(-0.9f, -0.45f, -0.225f, -0.108f)))
    val vecs = (hot ++ pair).toDF("vec_id", "embedding")
    val capped = Similarity.cosineDupPairs(vecs, threshold = 0.9, maxBucket = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(capped === Set((100L, 101L)))
    val uncapped = Similarity.cosineDupPairs(vecs, threshold = 0.9, maxBucket = 256)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(uncapped === (1L to 6L).combinations(2)
      .map { case Seq(a, b) => (a, b) }.toSet + ((100L, 101L)))
  }

  test("ivf knn: cosines exact, recall bought back with probes") {
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    val ivf = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    val bruteAll = Similarity.bruteForceTopK(emb, maxQueryId = 5, k = 100)
      .select("qid", "cid", "cos").as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // every IVF result's cosine must equal the brute-force cosine for
    // the same pair (identical quantized arithmetic)
    ivf.foreach { case (q, c, cos) => assert(bruteAll((q, c)) === cos) }
    val bruteTop = Similarity.bruteForceTopK(emb, maxQueryId = 5, k = 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    def recallAt(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3,
          nprobe = nprobe)
        .select("qid", "cid").as[(Long, Long)].collect().toSet
      bruteTop.count(got.contains).toDouble / bruteTop.size
    }
    // honest-seed calibration: this 500-vector fixture is weakly
    // clustered (near-uniform 64-dim directions), so cell pruning at
    // nprobe=2/16 scatters true neighbors — the md5 seed draw measures
    // ~0.33 here, and the standard IVF trade buys recall back with
    // probes. (The former >= 0.9 @ nprobe=2 gate was an artifact of
    // the dense-id seed rule picking the QUERY vectors as seeds.)
    val r2 = recallAt(2)
    val r10 = recallAt(10)
    assert(r2 >= 0.2, s"recall@2=$r2 collapsed")
    assert(r10 >= r2, s"recall not monotone in probes: $r2 -> $r10")
    assert(r10 >= 0.9, s"recall@10=$r10 below 0.9")
  }

  test("ivf sampled training (trainFraction) keeps recall near full training") {
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    // Lloyd passes over a deterministic ~50% md5 sample; assignment
    // still covers the full corpus — the 100 TB training shape. On
    // this 500-vector fixture a half sample is 250 rows, genuinely
    // sample-starved for 16 cells in 64 dims; the honest gate is
    // RELATIVE — sampled training must track the full-corpus trainer
    // at the same probe budget, not an absolute bar the full trainer
    // itself doesn't clear on weakly clustered data.
    val ivf = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3, nprobe = 8,
        trainFraction = 0.5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(ivf.nonEmpty)
    val bruteTop = Similarity.bruteForceTopK(emb, maxQueryId = 5, k = 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3, nprobe = 8)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val recall = bruteTop.count(ivf.contains).toDouble / bruteTop.size
    val fullRecall = bruteTop.count(full.contains).toDouble / bruteTop.size
    assert(recall >= 0.6, s"sampled-training recall=$recall collapsed")
    assert(recall >= fullRecall - 0.15,
      s"sampled $recall fell more than 0.15 below full-trained $fullRecall")
    // determinism: the md5 sample is shard-order-free, so a second
    // invocation trains on the identical sample and returns identically
    val again = Similarity.ivfTopK(emb, maxQueryId = 5, k = 3, nprobe = 8,
        trainFraction = 0.5)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(again === ivf)
  }

  test("ivf training is materialized once, eagerly, at construction") {
    val sc = spark.sparkContext
    val metrics = JobGroupMetrics.attach(sc)
    try {
      val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
      // constructing the DataFrame must run the Lloyd collects (seed
      // localize + one per iteration) — training happens HERE, once,
      // not inside every downstream action
      sc.setJobGroup("ivf-construct", "ivf construction")
      val df =
        try Similarity.ivfTopK(emb, maxQueryId = 5, k = 3)
        finally sc.clearJobGroup()
      metrics.drain()
      val jobs = metrics("ivf-construct").jobs
      assert(jobs >= 3,
        s"expected eager training jobs at construction, saw $jobs")
      // and the nprobe assignment, which fans into both join legs, is
      // persisted so those legs replan from the cache
      assert(df.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"),
        "assigned must be persisted before fanning into corpus+queries")
    } finally sc.removeSparkListener(metrics)
  }

  test("vocabulary counts term and document frequency, minCount filters") {
    val d = Seq(
      (1L, "a a b"),
      (2L, "a c  c")
    ).toDF("doc_id", "text")
    val all = TextAnalysis.vocabulary(d, minCount = 1)
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(all === Map("a" -> (3L, 2L), "b" -> (1L, 1L), "c" -> (2L, 1L)))
    val cut = TextAnalysis.vocabulary(d, minCount = 2)
      .select("token").as[String].collect().toSet
    assert(cut === Set("a", "c")) // the singleton b drops
  }

  test("unigram lm score: common-word docs score above rare-word docs") {
    val d = Seq(
      (1L, "x x x x"),       // all tokens are the most common type
      (2L, "y z w q")        // all tokens are singletons
    ).toDF("doc_id", "text")
    // vocab: x→4, y/z/w/q→1; total=8.
    // doc1 = 4·4 / (4·8) = 0.5; doc2 = 4·1 / (4·8) = 0.125
    val got = TextAnalysis.unigramLmScore(d)
      .select("doc_id", "lm_score").as[(Long, Double)].collect().toMap
    assert(got(1L) === 0.5)
    assert(got(2L) === 0.125)
  }

  test("repetition: top token ratio, ties broken by token asc") {
    val d = Seq(
      (1L, "a a a b"),
      (2L, "b a")            // tie at c=1 → token asc picks a
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(d)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got(1L) === (("a", 3L, 4L, 0.75)))
    assert(got(2L) === (("a", 1L, 2L, 0.5)))
  }

  test("semantic dup pairs: scaled twins share a cell and are recalled") {
    // fixture seed chosen away from quantization tie boundaries: the
    // cosine-invariance argument below holds exactly for REAL cosines,
    // but the 1e-6 quantization perturbs pair-to-centroid cosines by
    // ~1e-6, so a base sitting within 1e-6 of a two-cell tie can split
    // from its twin (seed 11 plants exactly one such case)
    val rnd = new scala.util.Random(7)
    val base = (0 until 50).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
    // positive scaling is cosine-invariant → a twin's cosine to EVERY
    // centroid equals its base's, so both land in the same IVF cell
    // and the pair (cos ≈ 1) must always be emitted
    val twins = (0 until 10).map(i => (100L + i, base(i)._2.map(_ * 0.7f)))
    val vecs = (base ++ twins).toDF("vec_id", "embedding")
    val got = Similarity.semanticDupPairs(vecs, threshold = 0.95)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val planted = (0 until 10).map(i => (i.toLong, 100L + i)).toSet
    assert(planted.subsetOf(got), s"missed planted twins: ${planted -- got}")
  }

  test("semanticDupPairs: two-level default vs flat — pair recall at non-degenerate C=16") {
    // the within-cell family silently switched its DEFAULT assignment
    // to the approximate two-level path; this pins the operator-level
    // drift at a real size (C=16 > G=4 — NOT the degenerate G >= C
    // tiny-fixture case where the paths are exactly equal). The
    // fixture is the worst case for coarse structure (uniform random
    // 64-d): PAIR recall is roughly vector-agreement SQUARED (both
    // endpoints must co-assign; agreement is pinned >= 0.7 below), so
    // ~0.6 here is the honest floor; real corpora are clustered,
    // where the coarse route is tighter.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flat = Similarity.semanticDupPairs(emb, threshold = 0.2, coarse = 0)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(flat.nonEmpty, "flat baseline found no pairs — fixture/threshold broken")
    val two = Similarity.semanticDupPairs(emb, threshold = 0.2)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val recall = (flat intersect two).size.toDouble / flat.size
    assert(recall >= 0.6,
      f"two-level default recalls only $recall%.2f of the exact " +
        s"within-cell pairs (${(flat intersect two).size}/${flat.size})")
    // every emitted pair still satisfies the threshold contract —
    // approximation moves vectors between cells, never fakes a cosine
    val cosOk = Similarity.semanticDupPairs(emb, threshold = 0.2)
      .select("cos").as[Double].collect()
    assert(cosOk.forall(_ >= 0.2))
  }

  test("coarseProbeCurve: monotone in probe, exact at probe == coarse") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val curve = Similarity.coarseProbeCurve(emb)
      .orderBy("probe").as[(Long, Long, Long, Long)].collect()
    assert(curve.map(_._1).sameElements(1L to 4L))
    assert(curve.forall(_._2 === emb.count()), "every leg covers every vector")
    // more probed groups can only recover agreement, never lose it
    assert(curve.map(_._4).sliding(2).forall(w => w(0) <= w(1)),
      s"agreement must be monotone in probe: ${curve.toSeq}")
    // probing every group IS the flat assignment — agreement is total
    assert(curve.last._4 === 1000000L,
      "probe == coarse must degenerate to the exact flat baseline")
  }

  test("twoLevelAssign: complete, deterministic, high agreement with flat") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val two = Similarity.twoLevelAssign(emb)
      .as[(Long, Long)].collect().toMap
    assert(two.size === emb.count())
    val flat = Similarity.flatAssign(emb)
      .as[(Long, Long)].collect().toMap
    assert(flat.keySet === two.keySet)
    // approximate by design; the fixture is the WORST case for coarse
    // structure (uniform random 64-d, 16 near-equidistant centroids,
    // probe 2 of 4 groups) and still keeps 3/4 agreement — real
    // corpora are clustered and C is in the thousands, where the
    // coarse route is both tighter and actually necessary. Exact
    // semantics are pinned by the q148 oracle, not this rate.
    val agree = two.count { case (id, cell) => flat(id) == cell }
    assert(agree.toDouble / two.size >= 0.7,
      s"only $agree/${two.size} vectors agree with flat assignment")
    // deterministic across evaluations
    val again = Similarity.twoLevelAssign(emb)
      .as[(Long, Long)].collect().toMap
    assert(two === again)
  }

  test("labelNoise: a planted mislabel scores 1.0, clean members score 0") {
    val rnd = new scala.util.Random(7)
    def around(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val c0 = Array.fill(8)(rnd.nextFloat() + 0.5f)
    val c1 = c0.map(-_) // opposite direction: separate cells, cos < 0
    val clean0 = (0 until 10).map(i => (i.toLong, around(c0), 0))
    val clean1 = (0 until 10).map(i => (20L + i, around(c1), 1))
    // vec 99 sits in cluster 0's geometry but carries label 1
    val noisy = Seq((99L, around(c0), 1))
    val vecs = (clean0 ++ clean1 ++ noisy)
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelNoise(vecs, k = 5, nCentroids = 2)
      .select("vec_id", "disagree_micro").as[(Long, Long)].collect().toMap
    assert(got(99L) === 1000000L, "the mislabel disagrees with every neighbor")
    // clean label-1 members: all neighbors share their label
    (20L until 30L).foreach(id => assert(got(id) === 0L, s"vec $id"))
  }

  test("hard negatives: same cell, below positive threshold, disjoint from dup pairs") {
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val negs = Similarity.hardNegatives(vecs, k = 3, posThreshold = 0.35)
      .select("anchor_id", "neg_id", "cos", "rn")
      .as[(Long, Long, Double, Long)].collect()
    assert(negs.nonEmpty)
    assert(negs.forall(_._3 < 0.35), "a negative must sit under the threshold")
    assert(negs.groupBy(_._1).values.forall(_.length <= 3))
    // ranks are dense from 1 and ordered by descending cosine
    negs.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq === (1L to sorted.length.toLong))
      assert(sorted.map(-_._3).toSeq === sorted.map(-_._3).sorted.toSeq)
    }
    // the positives (dup pairs) and negatives partition the pair space:
    // no (anchor, neg) pair may also be a dup pair at the same threshold
    val dups = Similarity.semanticDupPairs(vecs, threshold = 0.35)
      .select("id1", "id2").as[(Long, Long)].collect()
      .flatMap(p => Seq(p, p.swap)).toSet
    assert(negs.forall(n => !dups.contains((n._1, n._2))),
      "negatives must be disjoint from the positive pair set")
  }

  test("semantic dup pairs: degenerate cell dropped by maxCell cap") {
    // 6 copies of one vector collapse into a single cell of 6 — at
    // maxCell=4 the cell is dropped outright (no quadratic blowup),
    // at the default cap the full pair set comes back
    val vecs = (1L to 6L).map(i => (i, Array(1.0f, 0.5f, 0.25f, 0.12f)))
      .toDF("vec_id", "embedding")
    val capped = Similarity.semanticDupPairs(vecs, threshold = 0.9,
      nCentroids = 2, maxCell = 4).count()
    assert(capped === 0L)
    val uncapped = Similarity.semanticDupPairs(vecs, threshold = 0.9,
      nCentroids = 2).select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(uncapped === (1L to 6L).combinations(2)
      .map { case Seq(a, b) => (a, b) }.toSet)
  }

  test("within-cell family: two-level default degenerates to flat when probes cover every group") {
    // nCentroids=2 → auto G = ceil(√2) = 2; probing 2 of 2 groups
    // covers every fine cell, so the two-level default must be
    // row-identical to the exact flat path (coarse = 0) — the
    // guarantee that makes the at-scale default safe on tiny corpora
    val rnd = new scala.util.Random(7)
    def around(base: Array[Float]) =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    val c0 = Array.fill(8)(rnd.nextFloat() + 0.5f)
    val c1 = c0.map(-_)
    val vecs = ((0 until 10).map(i => (i.toLong, around(c0), 0)) ++
      (0 until 10).map(i => (20L + i, around(c1), 1)))
      .toDF("vec_id", "embedding", "label")
    val two = Similarity.labelNoise(vecs, k = 5, nCentroids = 2)
      .collect().map(_.toSeq).toSet
    val flat = Similarity.labelNoise(vecs, k = 5, nCentroids = 2, coarse = 0)
      .collect().map(_.toSeq).toSet
    assert(two === flat)
    val twoNeg = Similarity.hardNegatives(vecs, k = 3, nCentroids = 2)
      .collect().map(_.toSeq).toSet
    val flatNeg = Similarity.hardNegatives(vecs, k = 3, nCentroids = 2,
      coarse = 0).collect().map(_.toSeq).toSet
    assert(twoNeg === flatNeg)
  }

  test("sessionize splits on gaps > 30min and aggregates per session") {
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, "view", 1.0, "{}"),
      (2L, ts("2024-01-01 10:10:00"), 7L, "click", 2.0, "{}"),
      (3L, ts("2024-01-01 11:00:00"), 7L, "view", 3.0, "{}"),  // 50min gap -> new session
      (4L, ts("2024-01-01 09:00:00"), 8L, "view", 4.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val s = Events.sessionize(ev, gapMinutes = 30)
      .select("user_id", "session_id", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s === Set((7L, 1L, 2L, 3.0), (7L, 2L, 1L, 3.0), (8L, 1L, 1L, 4.0)))
  }

  test("hourly rollup buckets by truncated hour") {
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-01 10:05:00"), 7L, "view", 1.5, "{}"),
      (2L, ts("2024-01-01 10:55:00"), 7L, "view", 2.5, "{}"),
      (3L, ts("2024-01-01 11:05:00"), 7L, "view", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Events.hourlyRollup(ev)
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(r === Seq(
      (ts("2024-01-01 10:00:00"), "view", 2L, 4.0),
      (ts("2024-01-01 11:00:00"), "view", 1L, 1.0)))
  }

  test("random projection: exact, deterministic, equal for equal inputs") {
    val emb = Seq(
      (1L, Seq(0.5f, -0.25f, 0.125f, 1.0f)),
      (2L, Seq(0.5f, -0.25f, 0.125f, 1.0f)),   // identical to 1
      (3L, Seq(-1.0f, 0.75f, 0.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(emb, m = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // identical vectors project identically (the dedup-safety property)
    assert(got(1L) === got(2L))
    assert(got(1L) !== got(3L))
    // differential: recompute one projection in plain Scala
    val q = Seq(0.5, -0.25, 0.125, 1.0).map(v => math.round(v * 1e6))
    val (a, b) = Similarity.hyperplaneParams.head
    val expected = q.zipWithIndex.map { case (v, i0) =>
      val sign = if (((i0 + 1) * a + b) % Similarity.HashP % 2 == 0) 1L else -1L
      v * sign
    }.sum
    assert(got(1L)._1 === expected)
  }

  test("ann recall: per-query hit counts are well-formed and non-trivial") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val r = Similarity.annRecall(emb)
      .as[(Long, Long, Long, Long)].collect()
    assert(r.nonEmpty)
    r.foreach { case (_, nTruth, nHit, recallMicro) =>
      assert(nTruth === 5L)
      assert(nHit >= 0L && nHit <= 5L)
      assert(recallMicro === math.round(1e6 * nHit / 5.0))
    }
    // the multi-table LSH must recover a non-trivial share of the
    // exact neighbors on the real fixture
    assert(r.map(_._3).sum > 0L)
  }

  test("pq encode: m codes per vector from the seed range, shard-order invariant") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val enc = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long)].collect().sorted
    val n = emb.count()
    assert(enc.length === 4 * n, "every vector must emit exactly m=4 codes")
    assert(enc.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(0L to 3L)))
    // codewords keep their seed ids (the ksub md5-first vec_ids)
    // through Lloyd updates: nonnegative, at most ksub distinct
    assert(enc.forall(_._3 >= 0L))
    assert(enc.map(_._3).distinct.length <= 16)
    assert(enc.forall(_._4 >= 0L), "squared-L2 quantization error is nonnegative")
    // deterministic training: shard order must not change a single code
    val reSharded = Similarity.pqEncode(emb.repartition(7))
      .as[(Long, Long, Long, Long)].collect().sorted
    assert(reSharded.sameElements(enc))
  }

  test("pq sampled training: fraction=1.0 bit-identical, fraction=0.5 complete with bounded qerr") {
    // the 100 TB path trains the codebook on a deterministic hash
    // sample ([[trainCentroids]]' md5 rule); default 1.0 must stay
    // bit-exact (the q117-q119/q122 oracle contract), and a half
    // sample must still produce a complete, only-mildly-worse codebook
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val full = Similarity.pqEncode(emb, trainFraction = 1.0)
      .as[(Long, Long, Long, Long)].collect().sorted
    val default = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long)].collect().sorted
    assert(full.sameElements(default), "fraction=1.0 must equal the default path")
    val sampled = Similarity.pqEncode(emb, trainFraction = 0.5)
      .as[(Long, Long, Long, Long)].collect().sorted
    val n = emb.count()
    assert(sampled.length === 4 * n,
      "sampled training must still encode every vector in every subspace")
    // quality bound: the half-sample codebook's total reconstruction
    // error stays within 25% of the full-corpus codebook's
    val fullErr = full.map(_._4).sum.toDouble
    val sampErr = sampled.map(_._4).sum.toDouble
    assert(sampErr <= fullErr * 1.25,
      s"sampled codebook qerr $sampErr vs full $fullErr — sample degraded quality")
    // deterministic: the hash sample is a pure function of vec_id
    val again = Similarity.pqEncode(emb.repartition(5), trainFraction = 0.5)
      .as[(Long, Long, Long, Long)].collect().sorted
    assert(again.sameElements(sampled))
  }

  test("pq adc: a planted exact duplicate scores the query's own quantization error") {
    val vecs = (0L until 20L).map { i =>
      val src = if (i == 10L) 0L else i // vec 10 duplicates vec 0
      (i, Array.tabulate(8)(j => (((src * 31 + j * 17) % 13) - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(vecs, m = 2, dim = 8, ksub = 4, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    // identical subvectors encode identically (deterministic tie-break)
    assert(enc.filter(_._1 == 0L).map(e => (e._2, e._3, e._4)).sorted
      .sameElements(enc.filter(_._1 == 10L).map(e => (e._2, e._3, e._4)).sorted))
    val q0err = enc.filter(_._1 == 0L).map(_._4).sum
    val top = Similarity.pqAdcTopK(vecs, maxQueryId = 1, k = 5,
        m = 2, dim = 8, ksub = 4, iters = 2)
      .as[(Long, Long, Long, Long)].collect()
    val dupRow = top.find(r => r._1 == 0L && r._2 == 10L)
    assert(dupRow.isDefined, "the exact duplicate must reach the top-5")
    // ADC distance to the duplicate = the query's own reconstruction
    // error — the minimum any candidate can achieve
    assert(dupRow.get._3 === q0err)
    assert(top.filter(_._1 == 0L).map(_._3).min === q0err)
  }

  test("pq recall: well-formed and non-trivial on the fixture") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val r = Similarity.pqRecall(emb)
      .as[(Long, Long, Long, Long)].collect()
    assert(r.length === 10)
    r.foreach { case (_, nTruth, nHit, recallMicro) =>
      assert(nTruth === 5L)
      assert(nHit >= 0L && nHit <= 5L)
      assert(recallMicro === math.round(1e6 * nHit / 5.0))
    }
    // 2-byte codes on unstructured synthetic vectors: recall is far
    // from 1 by design, but the index must clearly beat random
    // (random recall@5 over 500 vectors ≈ 0.01 → ~0.5 expected hits;
    // the deterministic fixture value is 9 hits = 0.18 at HEAD)
    assert(r.map(_._3).sum >= 5L)
  }

  test("ivf-pq: ADC arithmetic identical to plain PQ on shared pairs") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val ivfpq = Similarity.ivfPqTopK(emb)
      .select($"qid", $"cid", $"adist").as[(Long, Long, Long)].collect()
    assert(ivfpq.nonEmpty)
    // plain-PQ distances for every (query, corpus) pair the pruned
    // index returned: IVF changes WHICH pairs are scored, never the
    // ADC value of a pair
    val full = Similarity.pqAdcTopK(emb, k = Int.MaxValue)
      .select($"qid", $"cid", $"adist").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    ivfpq.foreach { case (qid, cid, adist) =>
      assert(full((qid, cid)) === adist,
        s"ADC distance drifted for ($qid, $cid)")
    }
    // per query at most k results, ranked by (adist, cid)
    ivfpq.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 5)
    }
  }

  test("semanticIngestGate flags near-store vectors with their best witness") {
    val dim = 64
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => (((seed * 31 + j * 7) % 97) + 1) / 97f)
    val store = (0L until 20L).map(i => (i, vec(i.toInt), 0))
      .toDF("vec_id", "embedding", "label")
    // 100 = an exact copy of store vec 4 (cos 1, must flag with
    // witness 4); 101 = the NEGATION of store vec 7 (cos −1 against
    // everything positive-quadrant, must be absent)
    val batch = Seq(
      (100L, vec(4), 0),
      (101L, vec(7).map(-_), 0)).toDF("vec_id", "embedding", "label")
    val cents = Similarity.ivfCentroidsDf(store)
    val got = Similarity.semanticIngestGate(cents,
        Similarity.cellsFromCentroids(cents, store), store, batch,
        threshold = 0.95)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSet === Set(100L), s"flag set wrong: ${got.toSeq}")
    val hit = got.head
    assert(hit._2 === 4L, "witness must be the identical store vector")
    assert(hit._4 > 0.999, "an exact copy must score cos ~ 1")
  }

  test("pqEncodeFrom == pqEncode, and the encode commutes with row subsets") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cb = Similarity.pqCodebookDf(emb).localCheckpoint(true)
    val from = Similarity.pqEncodeFrom(cb, emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(from === direct,
      "encode under the persisted codebook must equal the training encode")
    // ROW-LOCALITY, the property the inc_fold/tdn_ann stages lean on:
    // encoding a subset == subsetting the encoded table
    val evens = Similarity.pqEncodeFrom(cb, emb.filter($"vec_id" % 2 === 0))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(evens === direct.filter(_._1 % 2 == 0),
      "row-local encoding must commute with row subsets")
  }

  test("pqAdcFromCodes == pqAdcTopK off persisted artifacts") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-pq-art").toString
    Similarity.pqCodebookDf(emb).write.mode("overwrite").parquet(s"$dir/cb")
    Similarity.pqEncode(emb).write.mode("overwrite").parquet(s"$dir/codes")
    val served = Similarity.pqAdcFromCodes(
        spark.read.parquet(s"$dir/codes"), spark.read.parquet(s"$dir/cb"), emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = Similarity.pqAdcTopK(emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served === direct,
      "serve-time ADC off artifacts must equal the end-to-end query")
  }

  test("embedding drift: identical halves cos 1, inverted half cos -1") {
    val base = Array.tabulate(8)(j => (j + 1).toFloat / 8f)
    val rows = Seq(
      (0L, base, 0), (1L, base, 0), // label 0: new == old
      (2L, base, 1), (3L, base.map(-_), 1)) // label 1: new == -old
      .toDF("vec_id", "embedding", "label")
    val r = Similarity.embeddingDrift(
        rows.filter($"vec_id" % 2 === 0), rows.filter($"vec_id" % 2 === 1))
      .as[(Long, Long, Long, Double, Long)].collect()
      .map(x => x._1 -> x).toMap
    // quantization is sign-symmetric on these exact values; the one
    // sqrt pair costs ≤ a couple ulp around the ±1 endpoints (the
    // SAME ulp in DuckDB — q123 hash-matches regardless)
    assert(r(0L)._2 === 1L && r(0L)._3 === 1L)
    assert(math.abs(r(0L)._4 - 1.0) < 1e-12)
    assert(r(0L)._5 === 1000000L)
    assert(math.abs(r(1L)._4 - (-1.0)) < 1e-12)
    assert(r(1L)._5 === 1000000L)
  }

  test("cell balance: counts cover the corpus, shares sum to ~1") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val rows = Similarity.cellBalance(emb)
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._2).sum === emb.count())
    // per-cell rounding leaves the share sum within n_cells/2 micro
    val shareSum = rows.map(_._3).sum
    assert(math.abs(shareSum - 1000000L) <= rows.length / 2 + 1)
  }

  test("FromPairs variants == the direct calls on a shared pair table") {
    val docs = Seq(
      (1L, "src0", "The quick brown fox jumps over the lazy dog and runs far away home"),
      (2L, "src1", "The quick brown fox jumps over the lazy dog and runs far away home"),
      (3L, "src1", "The quick brown fox jumps over the lazy dog and runs far away house"),
      (4L, "src2", "Completely different content about distributed query engines in the cloud")
    ).toDF("doc_id", "source", "text")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text").cast("long"))
    val pairs = Dedup.minhashDupPairs(docs, threshold = 0.7)
      .select($"id1", $"id2").localCheckpoint(true)   // materialize ONCE
    assert(
      Dedup.clusterKeepsFromPairs(pairs, docs).collect().toSet ===
        Dedup.clusterKeeps(docs, threshold = 0.7).collect().toSet)
    assert(
      Dedup.sourceOverlapFromPairs(
        Dedup.minhashDupPairs(docs, threshold = 0.7), docs).collect().toSet ===
        Dedup.sourceOverlap(docs, threshold = 0.7).collect().toSet)
    // the scored-artifact path (composed bench mode): calibration off
    // the materialized jaccardDetailFor table == the direct call
    val sigs = Dedup.minhashSignatures(docs).localCheckpoint(true)
    val scored = Dedup.jaccardDetailFor(
      Dedup.lshCandidates(sigs), Dedup.shingleOccurrences(docs))
    assert(
      Dedup.estimatorCalibrationFromScored(scored, sigs).collect().toSet ===
        Dedup.estimatorCalibration(docs).collect().toSet)
    // the warehouse 'pair' family's derivations: the scored table
    // (over the distinct shingle index) filtered at 0.7 is
    // minhashDupPairs (q89/q128/q133 apply the same operator to
    // either), its closure is dupClusters (q51), and the matrix off
    // the containment pair store is sourceContainmentMatrix (q147)
    val shingleIdx = Dedup.shingles(docs).localCheckpoint(true)
    val warehousePairs = Dedup.jaccardDetailFor(Dedup.lshCandidates(sigs), shingleIdx)
      .filter($"jaccard" >= 0.7).select($"id1", $"id2").localCheckpoint(true)
    val pairSet = warehousePairs.as[(Long, Long)].collect().toSet
    assert(pairSet.nonEmpty)
    assert(pairSet === Dedup.minhashDupPairs(docs, threshold = 0.7)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet)
    assert(Dedup.componentsOf(warehousePairs).collect().toSet ===
      Dedup.dupClusters(docs, threshold = 0.7).collect().toSet)
    val matrix = Dedup.sourceContainmentMatrixFromPairs(
      Dedup.ngramContainmentFromShingles(shingleIdx), docs).collect().toSet
    assert(matrix.nonEmpty)
    assert(matrix === Dedup.sourceContainmentMatrix(docs).collect().toSet)
  }

  test("FromCells variants == the direct calls on a shared cell artifact") {
    // the within-cell family's composed form: one materialized
    // (vec_id, cell) assignment feeds all three consumers — results
    // must equal the standalone calls that retrain internally
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cells = Similarity.cellAssignments(emb).localCheckpoint(true)
    assert(
      Similarity.semanticDupPairsFromCells(cells, emb).collect().toSet ===
        Similarity.semanticDupPairs(emb).collect().toSet)
    assert(
      Similarity.hardNegativesFromCells(cells, emb).collect().toSet ===
        Similarity.hardNegatives(emb).collect().toSet)
    assert(
      Similarity.labelNoiseFromCells(cells, emb).collect().toSet ===
        Similarity.labelNoise(emb).collect().toSet)
  }

  test("ivfTopKFrom == ivfTopK off persisted centroid+cell artifacts") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-art").toString
    Similarity.ivfCentroidsDf(emb).write.parquet(s"$dir/centroids")
    val cents = spark.read.parquet(s"$dir/centroids")
    Similarity.cellsFromCentroids(cents, emb).write.parquet(s"$dir/cells")
    val served = Similarity.ivfTopKFrom(
      cents, spark.read.parquet(s"$dir/cells"), emb)
      .as[(Long, Long, Double, Long)].collect().toSet
    val direct = Similarity.ivfTopK(emb)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(served === direct,
      "serve-time IVF must equal the retraining form exactly")
    assert(served.nonEmpty)
  }

  test("round-18 serve paths == the retraining forms off persisted artifacts") {
    // one artifact set (the warehouse 'ann' family shape), every
    // round-18 repointed searcher pinned against its standalone twin
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-art").toString
    Similarity.ivfCentroidsDf(emb).write.parquet(s"$dir/centroids")
    val cents = spark.read.parquet(s"$dir/centroids")
    Similarity.cellsFromCentroids(cents, emb).write.parquet(s"$dir/cells")
    Similarity.pqCodebookDf(emb).write.parquet(s"$dir/cb")
    Similarity.pqEncode(emb).write.parquet(s"$dir/codes")
    Similarity.sqStats(emb).write.parquet(s"$dir/sq_stats")
    val sqStats = spark.read.parquet(s"$dir/sq_stats")
    Similarity.sqEncodeFrom(sqStats, emb).write.parquet(s"$dir/sq_codes")
    def rd(p: String) = spark.read.parquet(s"$dir/$p")
    assert(
      Similarity.ivfPqTopKFrom(cents, rd("cells"), rd("cb"), rd("codes"), emb)
        .as[(Long, Long, Long, Long)].collect().toSet ===
        Similarity.ivfPqTopK(emb)
          .as[(Long, Long, Long, Long)].collect().toSet,
      "served IVF-PQ must equal the retraining form")
    assert(
      Similarity.ivfPqRefineTopKFrom(cents, rd("cells"), rd("cb"),
          rd("codes"), emb)
        .as[(Long, Long, Double, Long)].collect().toSet ===
        Similarity.ivfPqRefineTopK(emb)
          .as[(Long, Long, Double, Long)].collect().toSet,
      "served IVF-PQ-refine must equal the retraining form")
    assert(
      Similarity.ivfSqTopKFrom(cents, rd("cells"), sqStats,
          rd("sq_codes"), emb)
        .as[(Long, Long, Long, Long)].collect().toSet ===
        Similarity.ivfSqTopK(emb)
          .as[(Long, Long, Long, Long)].collect().toSet,
      "served IVF-SQ must equal the retraining form")
    assert(
      Similarity.pqRecallFrom(rd("codes"), rd("cb"), emb)
        .as[(Long, Long, Long, Long)].collect().toSet ===
        Similarity.pqRecall(emb)
          .as[(Long, Long, Long, Long)].collect().toSet,
      "served PQ recall must equal the retraining form")
    assert(
      Similarity.sqRefineTopKFrom(rd("sq_codes"), sqStats, emb)
        .as[(Long, Long, Double, Long)].collect().toSet ===
        Similarity.sqRefineTopK(emb)
          .as[(Long, Long, Double, Long)].collect().toSet,
      "served SQ-refine must equal the retraining form")
    assert(
      Similarity.coarseProbeCurveFrom(cents, emb)
        .as[(Long, Long, Long, Long)].collect().toSet ===
        Similarity.coarseProbeCurve(emb)
          .as[(Long, Long, Long, Long)].collect().toSet,
      "served probe curve must equal the retraining form")
  }

  test("labelCentroidSim: orthogonal labels at 0, aligned labels at 1") {
    // label 0 centroid = [1, 0] (two copies), label 1 = [0, 1],
    // label 2 = [1, 0] again
    val emb = Seq(
      (1L, Array(1f, 0f), 0),
      (2L, Array(1f, 0f), 0),
      (3L, Array(0f, 1f), 1),
      (4L, Array(1f, 0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidSim(emb)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(got.keySet === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got((0L, 1L)) === 0.0)
    assert(got((0L, 2L)) === 1.0)
    assert(got((1L, 2L)) === 0.0)
  }

  test("vocabCoverage ranks by count and accumulates to full coverage") {
    val d = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d")
    ).toDF("doc_id", "text")
    // counts: a→4, b→3, c→1, d→1 (ties by token); total = 9
    val got = TextAnalysis.vocabCoverage(d)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1L, "a", 4L), (2L, "b", 3L), (3L, "c", 1L), (4L, "d", 1L)))
    // exact integer coverage: 4/9, 7/9, 8/9, 9/9 in micro
    assert(got.map(_._4).toSeq ===
      Seq(4000000L / 9, 7000000L / 9, 8000000L / 9, 1000000L))
    // topK truncates the same total order
    val top2 = TextAnalysis.vocabCoverage(d, topK = 2)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(top2.map(_._2).toSeq === Seq("a", "b"))
  }

  test("centroidAssignExpr: K=1 assigns unconditionally, zero-norm refused") {
    import org.apache.spark.sql.functions.col
    val vecs = Seq((1L, Seq(0.5f, 0.1f)), (2L, Seq(-0.3f, 0.9f)))
      .toDF("vec_id", "embedding")
    val one = vecs.select(col("vec_id"),
        Similarity.centroidAssignExpr(col("embedding"),
          Seq((7L, Seq(1000000L, 0L)))).as("pred"))
      .as[(Long, Long)].collect().toMap
    assert(one === Map(1L -> 7L, 2L -> 7L))
    val e = intercept[IllegalArgumentException] {
      Similarity.centroidAssignExpr(col("embedding"),
        Seq((1L, Seq(1000000L, 0L)), (2L, Seq(0L, 0L))))
    }
    assert(e.getMessage.contains("zero-norm centroid"))
  }

  test("centroidClassifier: planted classes recovered; eval is diagonal") {
    // two well-separated classes: label 0 near +e1, label 1 near +e2;
    // noise small enough that every vector stays nearest its own
    // class centroid — train (buckets 0-7) and held-out (8-9) alike
    val rnd = new scala.util.Random(5)
    val rows = (1L to 40L).map { i =>
      val lab = (i % 2).toInt
      val base =
        if (lab == 0) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      (i, base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f).toSeq, lab)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidClassifier(df)
      .select($"vec_id", $"label", $"pred_label")
      .as[(Long, Long, Long)].collect()
    assert(got.length === 40, "every vector is scored")
    got.foreach { case (id, lab, pred) =>
      assert(pred === lab, s"vec $id routed to the wrong centroid") }
    val cm = Similarity.centroidClassifierEval(df)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(cm.keySet.subsetOf(Set((0L, 0L), (1L, 1L))),
      s"held-out confusion must be diagonal, got $cm")
    assert(cm.values.sum > 0, "the held-out buckets must be non-empty")
  }

  // vec 10 duplicates vec 0; dimension 0 is CONSTANT (the span=0 path)
  private def sqFixture = (0L until 20L).map { i =>
    val src = if (i == 10L) 0L else i
    (i, Array.tabulate(8)(j =>
      if (j == 0) 0.5f else (((src * 31 + j * 17) % 13) - 6).toFloat / 7f))
  }.toDF("vec_id", "embedding")

  test("sq encode: codes bounded, constant dim codes 0, == driver recompute") {
    val enc = Similarity.sqEncode(sqFixture, dim = 8)
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    assert(enc.length === 20, "every vector encodes")
    enc.foreach { case (_, codes, rerr) =>
      assert(codes.length === 8)
      assert(codes.forall(c => c >= 0L && c <= 255L), "8-bit code range")
      assert(codes.head === 0L, "constant dimension must code 0")
      assert(rerr >= 0L)
    }
    // independent driver recompute of the whole quantizer
    val raw = sqFixture.as[(Long, Seq[Float])].collect()
      .map { case (id, e) => id -> e.map(x => math.round(x.toDouble * 1e6)) }
    val dims = 0 until 8
    val vmin = dims.map(j => raw.map(_._2(j)).min)
    val vmax = dims.map(j => raw.map(_._2(j)).max)
    raw.foreach { case (id, qv) =>
      val codes = dims.map { j =>
        val s = vmax(j) - vmin(j)
        if (s == 0) 0L
        else math.floor((qv(j) - vmin(j)).toDouble * 255d / s).toLong
      }
      val recon = dims.map { j =>
        vmin(j) + math.floor((2 * codes(j) + 1).toDouble *
          (vmax(j) - vmin(j)) / 512d).toLong
      }
      val rerr = dims.map(j => (qv(j) - recon(j)) * (qv(j) - recon(j))).sum
      val got = enc.find(_._1 == id).get
      assert(got._2 === codes, s"codes diverge for vec $id")
      assert(got._3 === rerr, s"rerr diverges for vec $id")
    }
  }

  test("sq codes clamp to [0,255] for deliveries outside the trained extrema") {
    // encode under PERSISTED stats with delivery vectors far outside
    // the trained [vmin, vmax]: the FAISS SQ8 contract is saturation
    // at the edge cells, never a negative or >255 code (the 'dim
    // bytes per vector' storage claim)
    val stats = Similarity.sqStats(sqFixture, dim = 8).localCheckpoint(true)
    val delivery = Seq(
      (100L, Array.tabulate(8)(j => if (j == 0) 0.5f else -99f).toSeq),
      (101L, Array.tabulate(8)(j => if (j == 0) 0.5f else 99f).toSeq)
    ).toDF("vec_id", "embedding")
    val enc = Similarity.sqEncodeFrom(stats, delivery, dim = 8)
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    assert(enc.length === 2)
    val under = enc.head._2
    val over = enc.last._2
    assert(under.head === 0L && over.head === 0L,
      "the constant dimension still codes 0")
    assert(under.tail.forall(_ === 0L),
      s"under-range dims must saturate at 0, got $under")
    assert(over.tail.forall(_ === 255L),
      s"over-range dims must saturate at 255, got $over")
  }

  test("sqEncodeFrom == sqEncode, and the encode commutes with row subsets") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val stats = Similarity.sqStats(emb).localCheckpoint(true)
    val direct = Similarity.sqEncode(emb)
      .as[(Long, Seq[Long], Long)].collect().toSet
    val from = Similarity.sqEncodeFrom(stats, emb)
      .as[(Long, Seq[Long], Long)].collect().toSet
    assert(from === direct,
      "encode under persisted stats must equal the training encode")
    // row-locality — the inc_fold/takedown property: encoding a
    // subset under the serving stats == subsetting the encoded table
    val evens = Similarity.sqEncodeFrom(stats, emb.filter($"vec_id" % 2 === 0))
      .as[(Long, Seq[Long], Long)].collect().toSet
    assert(evens === direct.filter(_._1 % 2 == 0),
      "row-local encoding must commute with row subsets")
  }

  test("sq adc: a planted duplicate scores the query's own reconstruction error") {
    val enc = Similarity.sqEncode(sqFixture, dim = 8)
      .as[(Long, Seq[Long], Long)].collect()
    // identical vectors encode identically
    assert(enc.find(_._1 == 0L).get._2 === enc.find(_._1 == 10L).get._2)
    val q0err = enc.find(_._1 == 0L).get._3
    val top = Similarity.sqTopK(sqFixture, maxQueryId = 1, k = 5, dim = 8)
      .as[(Long, Long, Long, Long)].collect()
    val dupRow = top.find(r => r._1 == 0L && r._2 == 10L)
    assert(dupRow.isDefined, "the exact duplicate must reach the top-5")
    // asymmetric distance to the duplicate = the query's own
    // reconstruction error — the floor any candidate can achieve
    assert(dupRow.get._3 === q0err)
    assert(top.filter(_._1 == 0L).map(_._3).min === q0err)
  }

  test("sqTopKFromCodes == sqTopK off persisted artifacts") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val dir = java.nio.file.Files.createTempDirectory("graft-sq-art").toString
    Similarity.sqStats(emb).write.mode("overwrite").parquet(s"$dir/stats")
    Similarity.sqEncode(emb).select($"vec_id", $"codes")
      .write.mode("overwrite").parquet(s"$dir/codes")
    val served = Similarity.sqTopKFromCodes(
        spark.read.parquet(s"$dir/codes"), spark.read.parquet(s"$dir/stats"), emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    val direct = Similarity.sqTopK(emb)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(served === direct,
      "serve-time SQ search off artifacts must equal the end-to-end query")
  }

  test("ivf-sq: pruned candidates score identically to plain SQ") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val composed = Similarity.ivfSqTopK(emb)
      .select($"qid", $"cid", $"adist")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(composed.nonEmpty)
    // the same asymmetric arithmetic, pruned candidates: every pair
    // the composed index surfaces must carry plain SQ's exact adist
    val plain = Similarity.sqTopK(emb, k = 100)
      .select($"qid", $"cid", $"adist")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val shared = composed.keySet & plain.keySet
    assert(shared.nonEmpty, "no shared pairs — fixture degenerate")
    shared.foreach(p => assert(composed(p) === plain(p),
      s"adist diverges on $p: composed ${composed(p)} vs plain ${plain(p)}"))
    // every query with candidates emits a dense rank prefix
    val perQ = Similarity.ivfSqTopK(emb)
      .select($"qid", $"rn").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toList)
    perQ.foreach { case (q, rns) =>
      assert(rns === (1L to rns.length).toList, s"ragged ranks for $q") }
  }

  test("ivf-pq refine: exact rerank recovers at least the compressed hits") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val truth = Similarity.bruteForceTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val compressed = Similarity.ivfPqTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val refined = Similarity.ivfPqRefineTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    // the exact top-5 of the over-fetched candidates contains every
    // truth member the candidate set caught — recall dominates the
    // compressed top-5's (the q206 argument on the flagship index)
    assert((refined & truth).size >= (compressed & truth).size,
      s"refine recall ${(refined & truth).size} below " +
        s"compressed ${(compressed & truth).size}")
    assert((refined & truth).nonEmpty)
  }

  test("margin mining: planted translations mined, endpoints unique, threshold bites") {
    val rnd = new scala.util.Random(11)
    def noise() = Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.2f)
    val va = Array(1f, 0f, 0f, 0f, 0.3f, 0f, 0f, 0f)
    val vb = Array(0f, 1f, 0f, 0f, 0f, 0.3f, 0f, 0f)
    val rows =
      // side A: two "sentences" + noise; side B: their "translations"
      // (identical embeddings — the aligned-encoder ideal) + noise
      Seq((1L, va, 0), (2L, vb, 0)) ++
        (3L to 8L).map(i => (i, noise(), 0)) ++
        Seq((101L, va, 1), (102L, vb, 1)) ++
        (103L to 108L).map(i => (i, noise(), 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val mined = Similarity.marginMinePairs(emb, k = 4)
      .as[(Long, Long, Long, Long)].collect()
    val pairs = mined.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 101L)) && pairs.contains((2L, 102L)),
      s"planted translations missing from $pairs")
    // an identical pair dominates its neighborhoods: margin well
    // above the ratio-1.0 floor
    mined.filter(r => r._1 == 1L && r._2 == 101L).foreach { r =>
      assert(r._3 > 990000L, "identical pair must score cos ~ 1")
      assert(r._4 > 1500000L, s"translation margin too weak: ${r._4}")
    }
    // mutual-best: every endpoint appears at most once
    assert(mined.map(_._1).distinct.length === mined.length)
    assert(mined.map(_._2).distinct.length === mined.length)
    // a high threshold keeps only the dominating pairs
    val strict = Similarity.marginMinePairs(emb, k = 4,
        thrPermille = 6000L)
      .as[(Long, Long, Long, Long)].collect()
    assert(strict.length < mined.length,
      "threshold must cut the weak-margin tail")
    strict.foreach(r => assert(r._4 >= 6000000L / 1000L * 1000L - 1000L))
  }

  test("margin mining from cells: planted pair found, shared cosines identical") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val cells = Similarity.cellAssignments(emb).localCheckpoint(true)
    val composed = Similarity.marginMinePairsFromCells(cells, emb)
      .as[(Long, Long, Long, Long)].collect()
    assert(composed.nonEmpty, "no pairs mined off the cell sliver")
    // mutual-best holds within the sliver too
    assert(composed.map(_._1).distinct.length === composed.length)
    assert(composed.map(_._2).distinct.length === composed.length)
    // shared pairs carry the identical floor-micro cosine (the margin
    // sums legitimately differ — candidate sliver vs all pairs)
    val exact = Similarity.marginMinePairs(emb)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    composed.foreach { r =>
      exact.get((r._1, r._2)).foreach(c => assert(c === r._3,
        s"cosine diverges on (${r._1}, ${r._2})"))
    }
    // an identical cross-side pair lands in one cell by construction
    // (same vector, same nearest centroid) and must be mined
    val planted = emb.limit(0).unionByName(Seq(
        (9001L, Array.fill(8)(0f) ++ Array.fill(56)(0.5f), 0),
        (9002L, Array.fill(8)(0f) ++ Array.fill(56)(0.5f), 1))
      .toDF("vec_id", "embedding", "label"))
      .unionByName(emb)
    val cells2 = Similarity.cellAssignments(planted).localCheckpoint(true)
    val mined2 = Similarity.marginMinePairsFromCells(cells2, planted)
      .as[(Long, Long, Long, Long)].collect()
    val hit = mined2.find(r => r._1 == 9001L && r._2 == 9002L)
    assert(hit.isDefined, s"planted same-cell translation missed")
    assert(hit.get._3 > 990000L)
  }

  test("dim-truncation curve: full width exact, fixture curve monotone") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val rows = Similarity.dimTruncationCurve(emb)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 4 * 10, "4 widths x 10 queries")
    rows.foreach { case (_, _, nTruth, nHit, rec) =>
      assert(nTruth === 5L)
      assert(nHit >= 0L && nHit <= 5L)
      assert(rec === nHit * 1000000L / 5L, "recall is the exact ratio")
    }
    // truncation at full width is the identity: recall 1.0 everywhere
    rows.filter(_._1 == 64L).foreach(r =>
      assert(r._5 === 1000000L, s"full width missed truth at qid ${r._2}"))
    // the fixture's aggregate curve rises with kept dims
    val hits = rows.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(hits(8L) <= hits(16L) && hits(16L) <= hits(32L) &&
      hits(32L) <= hits(64L), s"non-monotone aggregate curve: $hits")
    assert(hits(8L) < hits(64L), "degenerate fixture: truncation costless")
  }

  test("dim-truncation truth ignores unhealthy vectors like every leg") {
    // plant a wrong-width and a zero-norm vector: the TRUTH top-k must
    // run over the same width-filtered positive-norm base as the
    // truncated legs, so the full-width leg still reaches recall 1.0
    // exactly — a truth set polluted by the dirt would cap every width
    // below 1.0 and misread codec loss as corpus dirt
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
      .select($"vec_id", $"embedding")
    val dirty = emb.unionByName(Seq(
      (900001L, Seq.fill(32)(1f)),
      (900002L, Seq.fill(64)(0f))
    ).toDF("vec_id", "embedding"))
    val rows = Similarity.dimTruncationCurve(dirty, dims = Seq(64))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.length === 10)
    rows.foreach { case (_, qid, _, _, rec) =>
      assert(rec === 1000000L,
        s"full-width recall must stay exactly 1.0 on a dirty corpus " +
          s"(qid $qid got $rec)") }
  }

  test("ivf seeding needs no dense id space: offset sparse ids train K cells") {
    // ids start at 1e9 with irregular gaps — the old `vec_id <= K`
    // seed rule would select ZERO seeds here; the md5-order draw must
    // seed exactly K centroids and recover the planted orthogonal
    // clusters through Lloyd refinement
    // constants chosen so the 4 md5-first ids land one in EACH planted
    // cluster (verified by construction): with one seed per cluster,
    // Lloyd provably keeps 4 cells and cohesion below is deterministic
    val base = 1000000000L
    val rows = for (c <- 0 until 4; m <- 0 until 10) yield {
      val id = base + c * 777L + m * 7L
      (id, Array.tabulate(16) { j =>
        val center = if (j / 4 == c) 1.0f else 0.02f
        center + (((id + j) % 5).toInt - 2) * 0.004f
      }.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsDf(emb, nCentroids = 4, lloydIters = 3)
    assert(cents.count() === 4L, "exactly K centroids from sparse offset ids")
    val cells = Similarity.cellsFromCentroids(cents, emb)
      .as[(Long, Long)].collect().toMap
    assert(cells.size === 40, "every vector assigned")
    // planted-cluster cohesion: all members of a planted cluster land
    // in one cell, and distinct clusters land in distinct cells
    val byCluster = rows.map(_._1).grouped(10).toSeq.map(_.map(cells))
    byCluster.zipWithIndex.foreach { case (cs, c) =>
      assert(cs.distinct.size === 1, s"planted cluster $c split: $cs") }
    assert(byCluster.map(_.head).distinct.size === 4,
      "distinct planted clusters must keep distinct cells")
  }

  test("sq refine: exact rerank recovers at least the plain SQ hits") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val truth = Similarity.bruteForceTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val sqHits = Similarity.sqTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    val refined = Similarity.sqRefineTopK(emb)
      .select($"qid", $"cid").as[(Long, Long)].collect().toSet
    assert(refined.size === sqHits.size,
      "refine keeps the same k per query")
    // the exact top-5 of the candidate set contains every truth
    // member the candidates caught, so refine recall dominates the
    // plain compressed top-5's
    assert((refined & truth).size >= (sqHits & truth).size,
      s"refine recall ${(refined & truth).size} regressed below " +
        s"plain SQ ${(sqHits & truth).size}")
    assert((refined & truth).nonEmpty, "refine must catch real neighbors")
  }
}
