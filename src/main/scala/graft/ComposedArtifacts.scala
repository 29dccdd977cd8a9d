package graft

import java.nio.file.Files

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.ParquetRead
import graft.operators.{Curation, Dedup, NgramLm, Similarity, SuffixArray, TextAnalysis}
import graft.sources.Tables

/** The VERSIONED WAREHOUSE: the one definition of each artifact
  * family build — `pair` (signatures, shingle index, scored LSH
  * candidates, containment and exact-Jaccard pair stores), `ann`
  * (IVF centroids + cells, the cell assignment under those centroids,
  * PQ codebook + codes, SQ8 stats + codes, NB counts `nb_vt`/`nb_dc`
  * + LM + constants; each model trained once), `tok`, `decon`, `lr`
  * and `suffix`. Each family is built ONCE per CORPUS VERSION,
  * persisted as parquet, and every consumer entry in
  * [[TrainingEntries]] reads it through the accessors below and the
  * operators' `*From` APIs.
  *
  * The store chains ([[vectorIndex]], [[nbModelStores]],
  * [[nbServe]], [[lmServe]], [[spanGroups]]) are defined once here
  * and shared: the family builds call them with the warehouse's
  * rebalancing writer, and [[IngestDemo]]'s `boot_*`, `cal_*`,
  * `inc_fold_*` and `tdn_*` stages call them with their own.
  *
  * Why this exists: a consumer entry's oracle SQL derives its answer
  * from the raw tables, so a hash match puts the production path
  * itself (persisted artifact → consumer) under the DuckDB oracle
  * and proves the artifact round-trip changed nothing; the specs pin
  * each `*From` form against its retraining form. Bench times these
  * builds, one `<family>_build` leg per family.
  *
  * Warehouse layout (the production shape, not session scratch):
  * artifacts live under `$SPARK_GRAFT_WAREHOUSE` when the operator
  * sets it (the durable production volume), else a PER-JVM temp root
  * deleted on exit (see [[warehouseRoot]] — every Verify/Bench
  * invocation builds what it serves from the parquet inputs; nothing
  * persists across runs by default), in a directory keyed by
  * `<family>-v<LayoutVersion>-<corpus fingerprint>`, where the corpus
  * fingerprint is an md5 over the input tables' file listing
  * (name, length, mtime — the Spark file-index identity). So:
  *  - within one JVM, Bench's build legs and every consumer entry
  *    SHARE one build — how a warehouse amortizes artifact
  *    cost across jobs — and rebuild happens ONLY when the corpus
  *    content changes (a regenerated fixture gets fresh mtimes →
  *    new key);
  *  - builds are crash-safe and concurrency-safe: a build lands in a
  *    hidden `.build-*` temp dir INSIDE the warehouse root and is
  *    PUBLISHED by an atomic same-filesystem rename; a concurrent
  *    builder that loses the race discards its own build and reads
  *    the winner's (both paid the build — acceptable, rare — but no
  *    reader ever sees a half-written store). A crashed JVM leaves
  *    only an unpublished `.build-*` dir (bounded garbage, never
  *    read);
  *  - every family carries its own INTEGRITY RECEIPT
  *    ([[Curation.artifactManifest]] over every store the build
  *    wrote, written as `receipt` inside the family dir before
  *    publish) —
  *    "which artifact version did this query serve from" is
  *    answerable from the warehouse itself, the IngestDemo receipt
  *    discipline applied to the composed-path stores;
  *  - `LayoutVersion` rides the key: any change to an artifact
  *    derivation must bump it, so a stale build can never serve a
  *    newer consumer (and if one ever did, the consumers' oracle SQL,
  *    derived from the raw tables, fails the hash gate loudly).
  *
  * In-JVM, a per-key lazy holder memoizes the published path and
  * guarantees the build thunk runs at most once even under concurrent
  * first access (TrieMap.getOrElseUpdate may double-evaluate its
  * by-name argument, but constructing the cheap holder twice is
  * harmless — only the single stored holder's lazy body ever runs).
  */
object ComposedArtifacts {
  /** Bump on ANY change to an artifact derivation below — the version
    * is part of the warehouse key, so old builds become unreachable
    * rather than silently served.
    */
  // v2: k-means/PQ seed rule changed from `vec_id <= K` to the
  // md5-first-K draw (round 16) — the ANN/model family derivation
  // changed, so v1 builds must never serve these consumers
  // v3: the suffix family joins the warehouse (round 18) and
  // repeatedSpansWithKey gains the hot-group path — output-identical
  // by the decomposition proof, but any pre-hot-path sg_*_pairs build
  // must not serve the new consumers unaudited
  // v4: the exact n-gram Jaccard pair stores (jac_pairs full corpus,
  // jac_base_pairs even docs — q186's fold base) join the pair
  // family, and the pair-graph standalone gates serve from artifacts
  // v5: the SQ8 stats + code table join the ann family, the BPE
  // tokenizer family (merge table + segmented vocabulary) and the
  // q248 hot-fixture base store/pairs join the warehouse, and the
  // ANN searcher/retract/curve gates serve from artifacts
  // v6: sa_lcp is derived from the span-group order (one window-keyed
  // sort) instead of prefix doubling — output-identical by the
  // prefix-interval property, but a doubling-built sa_lcp must not
  // serve unaudited
  // v7: the ann family adds the NB count stores (nb_vt, nb_dc) and
  // derives cells and pq_codes from its written models
  private val LayoutVersion = 7

  /** The q26-family near-dup threshold shared by every pair consumer. */
  private val JaccardThreshold = 0.7

  /** The fixture's supervision labels: the NB and logistic models'
    * positive and negative sources, pinned by the entries' oracle SQL.
    */
  private[graft] val PosSources = Seq("src0", "src1", "src2")
  private[graft] val NegSources = Seq("src3", "src4", "src5")

  /** Warehouse root: `$SPARK_GRAFT_WAREHOUSE` when set (the operator
    * owns that choice — a production deployment points this at the
    * durable warehouse volume so builds amortize across jobs), else a
    * PER-JVM temp directory deleted on exit.
    *
    * The per-JVM default is deliberate (optimization round 18): every
    * Verify/Bench invocation must derive everything it serves from
    * the parquet inputs within that invocation — a default that
    * persisted builds across JVMs (the old `~/.cache/graft-warehouse`)
    * would let a timed run serve artifacts a PREVIOUS run computed,
    * which is result caching across runs, not optimization. Within
    * one JVM the families are still built once and shared by every
    * consumer entry (the production composition claim, priced by
    * Bench's `<family>_build` legs); across JVMs nothing survives unless
    * the operator explicitly opts in.
    */
  private lazy val tempRoot: java.io.File = {
    val d = Files.createTempDirectory("graft-warehouse-").toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => FsUtil.rmTree(d)))
    d
  }
  private def warehouseRoot: java.io.File =
    sys.env.get("SPARK_GRAFT_WAREHOUSE").map(new java.io.File(_))
      .getOrElse(tempRoot)

  /** Fail loudly if `root` exists but is owned by someone else — a
    * foreign-owned warehouse can serve poisoned artifacts (and its
    * permission bits break publish renames in confusing ways later).
    * Owner lookup can be unsupported on exotic filesystems; treat
    * that as "cannot verify" and allow (the per-user default path
    * makes the shared-dir case an explicit operator override).
    */
  private def requireOwned(root: java.io.File): Unit =
    try {
      val owner = Files.getOwner(root.toPath).getName
      val me = sys.props.getOrElse("user.name", owner)
      require(owner == me,
        s"warehouse root $root is owned by '$owner', not '$me' — " +
          "refusing to trust its published artifacts; point " +
          "SPARK_GRAFT_WAREHOUSE at a directory you own")
    } catch {
      case _: UnsupportedOperationException => ()
      case _: java.io.IOException => ()
    }

  // compute-once memo: the holder's lazy val is the single point of
  // evaluation no matter how many threads race the TrieMap insert
  private final class Holder(thunk: () => String) {
    lazy val dir: String = thunk()
  }
  private val dirs = TrieMap.empty[String, Holder]

  /** md5 over the sorted (relative path, length, mtime) listing of the
    * family's input tables — the file-index identity Spark's own scan
    * planning keys on. Content-stable fixtures reuse builds across
    * JVMs and rounds; any rewrite (even byte-identical, since mtime
    * moves) re-keys conservatively.
    */
  private def corpusFp(sfDir: String, tables: Seq[String]): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val base = new java.io.File(sfDir)
    val entries = tables.flatMap(t => walk(new java.io.File(base, t)))
      .map(f => s"${base.toPath.relativize(f.toPath)}|${f.length}|${f.lastModified}")
      .sorted
    require(entries.nonEmpty, s"no input files under $sfDir for $tables")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(entries.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def rm(f: java.io.File): Unit = FsUtil.rmTree(f)

  /** How many published corpus-fingerprint versions to retain per
    * family before the sweep reclaims the oldest; generous because a
    * published dir might still be read by a long-lived concurrent JVM
    * pinned to an older fingerprint.
    */
  private[graft] val KeepPerFamily = 4
  private[graft] val SweepTtlMs = 24L * 3600 * 1000

  /** Opportunistic warehouse hygiene, once per in-JVM build key:
    * reclaim `.build-*` leftovers from crashed JVMs (unpublished, so
    * never read — but a LIVE concurrent build also lives in one, hence
    * the one-day TTL before touching it) and, per family, published
    * fingerprints beyond the [[KeepPerFamily]] most recent — those too
    * only past the TTL, so a reader that resolved an old fingerprint
    * moments ago never has the store deleted under it. Without this a
    * long-lived host accumulates one directory per corpus version
    * forever (ADVICE round-13).
    *
    * Liveness is judged by the NEWEST mtime anywhere inside a
    * `.build-*` dir, not the top dir's own mtime: nested parquet
    * writes do not refresh the parent directory, so a legitimate
    * build running past the TTL would otherwise be reclaimed
    * mid-build by a concurrent JVM (ADVICE round-13). Published dirs
    * keep the top-level-mtime rule (every [[obtain]] touches it) —
    * the corollary, documented on [[obtain]], is that resolved paths
    * are only TTL-protected at resolve time: re-obtain rather than
    * holding a path across a day-long session.
    */
  private def newestMtime(f: java.io.File): Long = {
    val children = Option(f.listFiles).toSeq.flatten
    (f.lastModified +: children.map(newestMtime)).max
  }

  private[graft] def sweep(root: java.io.File, family: String,
      resolving: String): Unit = {
    val now = System.currentTimeMillis()
    val all = Option(root.listFiles).toSeq.flatten.filter(_.isDirectory)
    all.filter(f => f.getName.startsWith(".build-") &&
        now - newestMtime(f) > SweepTtlMs)
      .foreach(rm)
    val published = all
      .filter(f => f.getName.startsWith(s"$family-v") &&
        f.getName != resolving) // never the key being obtained
      .sortBy(-_.lastModified)
    published.drop(KeepPerFamily - 1)
      .filter(now - _.lastModified > SweepTtlMs)
      .foreach(rm)
  }

  /** Resolve (building if absent) the family's published directory.
    * Every resolution TOUCHES the published dir's mtime, so a family
    * in active use never ages past [[SweepTtlMs]] in another JVM's
    * sweep; and the in-JVM memo is re-validated against the
    * filesystem — if a swept (or manually deleted) directory is
    * found behind a memoized path, the key is evicted and the family
    * rebuilt instead of failing every read until restart.
    *
    * CONTRACT: the returned path is TTL-protected from the moment of
    * this call, not indefinitely — a caller that stores the string
    * and reads it again a day later races another JVM's sweep.
    * Re-resolve through the accessors (cheap: memo + one touch)
    * instead of holding a resolved path across long sessions.
    */
  private def obtain(spark: SparkSession, family: String, sfDir: String,
      inputs: Seq[String])(build: String => Unit): String = {
    val dir = obtainOnce(spark, family, sfDir, inputs)(build)
    val f = new java.io.File(dir)
    if (f.isDirectory) { f.setLastModified(System.currentTimeMillis()); dir }
    else {
      dirs.remove(s"$family-v$LayoutVersion-${corpusFp(sfDir, inputs)}")
      obtainOnce(spark, family, sfDir, inputs)(build)
    }
  }

  private def obtainOnce(spark: SparkSession, family: String, sfDir: String,
      inputs: Seq[String])(build: String => Unit): String = {
    val key = s"$family-v$LayoutVersion-${corpusFp(sfDir, inputs)}"
    dirs.getOrElseUpdate(key, new Holder(() => {
      val root = warehouseRoot
      root.mkdirs()
      requireOwned(root)
      sweep(root, family, key)
      val published = new java.io.File(root, key)
      if (published.isDirectory) published.toString
      else {
        val tmp = Files.createTempDirectory(root.toPath, s".build-$family-")
        build(tmp.toString)
        // the family's durable integrity receipt over every store the
        // build wrote, so it describes exactly what publishes
        val stores = Option(tmp.toFile.listFiles).toSeq.flatten
          .filter(f => f.isDirectory && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .map(_.getName).sorted
        Curation.artifactManifest(stores.map(n =>
          n -> ParquetRead.parquet(spark, s"$tmp/$n")))
          .write.mode("overwrite").parquet(s"$tmp/receipt")
        if (!tmp.toFile.renameTo(published)) {
          // lost the publish race (or a stale dir appeared): keep the
          // winner's build, discard ours
          rm(tmp.toFile)
          require(published.isDirectory,
            s"warehouse publish failed for $key")
        }
        published.toString
      }
    })).dir
  }

  private def pairDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "pair", sfDir, Seq("documents.parquet")) { work =>
      val docs = Tables(spark, sfDir).documents
      def rd(p: String) = ParquetRead.parquet(spark, s"$work/$p")
      val sigs = Dedup.minhashSignatures(docs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // row stores write through a REBALANCE hint (guide §6 "small
        // files hurt twice"): narrow map-side derivations otherwise
        // leave one TINY file per spread() partition, and every
        // consumer of the artifact re-pays per-file scan setup on
        // every read — measured 2.5x consumer cpu on the 8-gram
        // index (32 x ~110 KB files vs AQE-sized ones)
        sigs.hint("rebalance").write.mode("overwrite").parquet(s"$work/sigs")
        Dedup.shingles(docs).hint("rebalance")
          .write.mode("overwrite").parquet(s"$work/shingles")
        val cands = Dedup.lshCandidates(sigs).localCheckpoint(true)
        Dedup.jaccardDetailFor(cands, rd("shingles"))
          .hint("rebalance")
          .write.mode("overwrite").parquet(s"$work/scored")
        Dedup.ngramContainmentFromShingles(rd("shingles"))
          .hint("rebalance")
          .write.mode("overwrite").parquet(s"$work/cont_pairs")
        // the exact-Jaccard VERIFIED-PAIR stores (df-cut candidacy +
        // full-set verify): the full-corpus store q187's retract and
        // q180's serve read, and the even-docs base store q186's fold
        // grows — the offline-rebuild role ngramJaccardFromShingles'
        // scaladoc assigns lives HERE, once per corpus version
        Dedup.ngramJaccardFromShingles(rd("shingles"))
          .hint("rebalance")
          .write.mode("overwrite").parquet(s"$work/jac_pairs")
        Dedup.ngramJaccardFromShingles(
            rd("shingles").filter(col("doc_id") % 2 === 0))
          .hint("rebalance")
          .write.mode("overwrite").parquet(s"$work/jac_base_pairs")
      } finally sigs.unpersist(false)
    }

  /** The warehouse's write policy: every store writes through a
    * REBALANCE hint (see [[pairDir]]).
    */
  private def writeTo(work: String)(df: DataFrame, name: String): Unit =
    df.hint("rebalance").write.mode("overwrite").parquet(s"$work/$name")

  // ---- The store chains. Each derivation is written once here; the
  // family builds below and IngestDemo's stages call it. A chain takes
  // its input frame, the caller's store reader `rd` and writer `wr`
  // (so each caller keeps its own write policy), a store-name affix
  // and, where it trains a model, the train fraction. A chain writes
  // its model or counts first and derives the next store from the
  // written copy, so a published (model, store) pair is consistent.

  /** The three vector-index chains, each store name + `sfx`: IVF
    * centroids → flat cell table (`ivf_centroids`, `ivf_cells`), PQ
    * codebook → code table (`pq_codebook`, `pq_codes`), SQ8 extrema →
    * code table (`sq_stats`, `sq_codes`). Models train once; the
    * stores are row-local derivations under them, which is what makes
    * their fold/retract exact. The chains share no data, so callers
    * overlap them ([[Overlap.inParallel]]). Lloyd passes run on the
    * `trainFraction` md5 sample; assignment and encoding scan every
    * vector, and the SQ extrema are always a full scan.
    */
  private[graft] def vectorIndex(emb: DataFrame, trainFraction: Double,
      rd: String => DataFrame, wr: (DataFrame, String) => Unit,
      sfx: String): Seq[() => Unit] = Seq(
    () => {
      wr(Similarity.ivfCentroidsDf(emb, trainFraction = trainFraction),
        s"ivf_centroids$sfx")
      wr(Similarity.cellsFromCentroids(rd(s"ivf_centroids$sfx"), emb),
        s"ivf_cells$sfx")
    },
    () => {
      wr(Similarity.pqCodebookDf(emb, trainFraction = trainFraction),
        s"pq_codebook$sfx")
      wr(Similarity.pqEncodeFrom(rd(s"pq_codebook$sfx"), emb),
        s"pq_codes$sfx")
    },
    () => {
      wr(Similarity.sqStats(emb), s"sq_stats$sfx")
      wr(Similarity.sqEncodeFrom(rd(s"sq_stats$sfx"), emb), s"sq_codes$sfx")
    })

  /** The NB quality model over `docs` ([[PosSources]] vs
    * [[NegSources]]): the count stores `nb_vt`/`nb_dc` + `sfx`, then
    * the serve pair derived from them ([[nbServe]]).
    */
  private[graft] def nbModelStores(docs: DataFrame, rd: String => DataFrame,
      wr: (DataFrame, String) => Unit, sfx: String): Unit = {
    val (vt, dc) = TextAnalysis.nbCounts(docs, PosSources, NegSources)
    wr(vt, s"nb_vt$sfx"); wr(dc, s"nb_dc$sfx")
    nbServe(rd, wr, sfx)
  }

  /** The NB serve pair `nb_lm`/`nb_consts` + `sfx`, derived from the
    * written count stores `nb_vt`/`nb_dc` + `sfx` (vocabulary-sized).
    */
  private[graft] def nbServe(rd: String => DataFrame,
      wr: (DataFrame, String) => Unit, sfx: String): Unit = {
    val (lm, consts) =
      TextAnalysis.nbLmFromCounts(rd(s"nb_vt$sfx"), rd(s"nb_dc$sfx"))
    wr(lm, s"nb_lm$sfx"); wr(consts, s"nb_consts$sfx")
  }

  /** The bigram-LM serve pair `lm_uni`/`lm_consts` + `sfx`, derived
    * from the written count store `lm_bi` + `sfx` (vocabulary-sized).
    */
  private[graft] def lmServe(rd: String => DataFrame,
      wr: (DataFrame, String) => Unit, sfx: String): Unit = {
    val (uni, consts) = NgramLm.lmFromCounts(rd(s"lm_bi$sfx"))
    wr(uni, s"lm_uni$sfx"); wr(consts, s"lm_consts$sfx")
  }

  /** The span-group chain over `corpus`: the doc-local group store
    * `<prefix>_store`, then the maximal-repeat pair table
    * `<prefix>_pairs` from the written store.
    */
  private[graft] def spanGroups(corpus: DataFrame, rd: String => DataFrame,
      wr: (DataFrame, String) => Unit, prefix: String): Unit = {
    wr(SuffixArray.spanGroupStore(corpus), s"${prefix}_store")
    wr(SuffixArray.repeatedSpansWithKey(rd(s"${prefix}_store"), corpus),
      s"${prefix}_pairs")
  }

  /** The ANN/model artifact family (built separately from the pair
    * graph so each consumer group pays only its own build): the
    * [[vectorIndex]] stores (IVF centroids + cells, PQ codebook +
    * codes, SQ8 stats + codes), the (vec_id, cell) assignment under
    * the written IVF centroids, and the NB model stores (counts, LM,
    * constants). Each model trains once; the chains overlap.
    */
  private def annDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "ann", sfDir,
      Seq("documents.parquet", "embeddings.parquet")) { work =>
      val t = Tables(spark, sfDir)
      val emb = t.embeddings
      def rd(p: String) = ParquetRead.parquet(spark, s"$work/$p")
      val write = writeTo(work) _
      val Seq(ivf, pq, sq) = vectorIndex(emb, 1.0, rd, write, "")
      Overlap.inParallel(
        () => {
          ivf()
          write(Similarity.cellAssignmentsFrom(rd("ivf_centroids"), emb),
            "cells")
        },
        pq, sq,
        () => nbModelStores(t.documents, rd, write, ""))
    }

  private def annRead(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    ParquetRead.parquet(spark, s"${annDir(spark, sfDir)}/$name")

  def cells(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "cells")
  def ivfCentroids(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "ivf_centroids")
  def ivfCells(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "ivf_cells")
  def pqCodebook(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "pq_codebook")
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "pq_codes")
  def nbLm(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "nb_lm")
  def nbConsts(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "nb_consts")
  def sqStats(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "sq_stats")
  def sqCodes(spark: SparkSession, sfDir: String): DataFrame =
    annRead(spark, sfDir, "sq_codes")

  /** The BPE TOKENIZER artifact family: the trained merge table
    * ([[graft.operators.Bpe.bpeTrain]]'s output — the model a
    * tokenizer ships) and the vocabulary segmented under it
    * ([[graft.operators.Bpe.segmentSymbols]]' exploded
    * (word, n, pos, sym) form). Built once per corpus version;
    * before this family, q124/q125/q134 each re-ran the full merge
    * training (and q125/q134 the replay) in-entry — three trainings
    * per suite pass for one corpus-constant model.
    */
  private def tokDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "tok", sfDir, Seq("documents.parquet")) { work =>
      import spark.implicits._
      import graft.operators.Bpe
      val docs = Tables(spark, sfDir).documents
      Bpe.bpeTrain(docs)
        .write.mode("overwrite").parquet(s"$work/bpe_merges")
      val merges = ParquetRead.parquet(spark, s"$work/bpe_merges")
        .orderBy("rank").as[(Long, String, String, Long)].collect()
        .map(r => (r._2, r._3)).toSeq
      Bpe.segmentSymbols(docs, merges)
        .write.mode("overwrite").parquet(s"$work/bpe_vocab")
    }

  /** The trained BPE merge table (rank, lhs, rhs, pair_count). */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${tokDir(spark, sfDir)}/bpe_merges")

  /** The vocabulary segmented under the trained merges
    * (word, n, pos, sym).
    */
  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${tokDir(spark, sfDir)}/bpe_vocab")

  /** The near-dup pair graph — a threshold filter view of the scored
    * candidate artifact (minhashDupPairs' semantics, off parquet).
    */
  def pairs(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/scored")
      .filter(col("jaccard") >= JaccardThreshold)
      .select("id1", "id2")

  /** The containment pair artifact (id1, id2, common, sz1, sz2,
    * containment) — ngramContainmentPairs' output, off parquet.
    */
  def contPairs(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/cont_pairs")

  /** The distinct 5-gram shingle index (doc_id, shingle). */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/shingles")

  /** The MinHash signature store (doc_id, sig00..sig15). */
  def sigs(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/sigs")

  /** The full scored LSH candidate table (pre-threshold). */
  def scored(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/scored")

  /** The DECONTAMINATION artifact family: the distinct 8-gram
    * shingle index every decontam/boilerplate consumer shares
    * (q43/q76/q93/q143 all open with the same corpus explode —
    * doc-local, so the artifact path is exact). A separate family so
    * these consumers pay only their own build.
    */
  private def deconDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "decon", sfDir, Seq("documents.parquet")) { work =>
      Dedup.shingles(Tables(spark, sfDir).documents, 8)
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$work/shingles8")
    }

  /** The distinct 8-gram shingle index (doc_id, shingle). */
  def shingles8(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${deconDir(spark, sfDir)}/shingles8")

  /** The LOGISTIC-QUALITY artifact family: the surface and extended
    * integer feature tables and the trained weight vectors (32
    * full-batch rounds each — the expensive, maximally
    * driver-latency-exposed stage). Classifier serving (q228/q239
    * scoring, q229/q240 reliability) is one codegen span over the
    * persisted features; the pos/neg source lists are pinned by the
    * entries' oracle SQL literals.
    */
  private def lrDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "lr", sfDir, Seq("documents.parquet")) { work =>
      import graft.operators.Logistic
      val docs = Tables(spark, sfDir).documents
      def rd(p: String) = ParquetRead.parquet(spark, s"$work/$p")
      Logistic.features(docs, PosSources, NegSources)
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$work/lr_feats")
      Logistic.featuresExtended(docs, PosSources, NegSources)
        .hint("rebalance")
        .write.mode("overwrite").parquet(s"$work/lrx_feats")
      Logistic.weightsDfFor(rd("lr_feats"), Logistic.FeatureNames)
        .write.mode("overwrite").parquet(s"$work/lr_weights")
      Logistic.weightsDfFor(rd("lrx_feats"),
          Logistic.FeatureNamesExtended)
        .write.mode("overwrite").parquet(s"$work/lrx_weights")
    }

  /** Surface integer feature table (doc_id, cls, b, f0..f4). */
  def lrFeats(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${lrDir(spark, sfDir)}/lr_feats")

  /** Extended feature table (doc_id, cls, b, f0..f7). */
  def lrxFeats(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${lrDir(spark, sfDir)}/lrx_feats")

  /** Trained surface weights (j, feature, w_micro). */
  def lrWeights(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${lrDir(spark, sfDir)}/lr_weights")

  /** Trained extended weights (j, feature, w_micro). */
  def lrxWeights(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${lrDir(spark, sfDir)}/lrx_weights")

  /** The exact n-gram Jaccard verified-pair store over the FULL
    * corpus ([[graft.operators.Dedup.ngramJaccardFromShingles]]'
    * output, off parquet — q27's semantics).
    */
  def jacPairs(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/jac_pairs")

  /** The exact n-gram Jaccard verified-pair store over the EVEN
    * docs — the fold rehearsal's "before" state (q186's base).
    */
  def jacBasePairs(spark: SparkSession, sfDir: String): DataFrame =
    ParquetRead.parquet(spark, s"${pairDir(spark, sfDir)}/jac_base_pairs")

  /** The SUFFIX-family artifacts (round-18, verdict #8): the full
    * SA+LCP arrays (q232's output IS the artifact), the span-group
    * stores + maintained repeat-pair tables for the fold/retract
    * gates (full corpus AND the bucket-3-held-out base the q241
    * delivery rehearsal folds into), and the maintained small-k
    * window stores (k = 1..4) the doc-profile reads its short-k side
    * from (verdict #5). Before this family existed, the q230-q232/
    * q241-q243 contract entries rebuilt everything in-entry with
    * localCheckpoint(true) — measured to inflate UNRELATED queries
    * later in the same suite (q72: 8.4 s solo vs 10.4-11.6 s run
    * after the suffix entries, the round-17 "regression") — and the
    * gate suite paid the SA build five times over.
    */
  private def suffixDir(spark: SparkSession, sfDir: String): String =
    obtain(spark, "suffix", sfDir, Seq("documents.parquet")) { work =>
      val docs = Tables(spark, sfDir).documents
      def rd(p: String) = ParquetRead.parquet(spark, s"$work/$p")
      val write = writeTo(work) _
      val baseDocs = docs.filter(Curation.hashBucket(col("doc_id"), 10) =!= 3)
      // the q248 hot-group gate's "before" state (the persisted
      // warehouse a delivery folds into, like sg_base_* for q241):
      // base = every 50th doc — derived solely from documents, so
      // the corpus fingerprint keys it correctly
      val hotBase = docs.filter(col("doc_id") % 50 === 0)
        .select(col("doc_id"), col("text"))
      // the chains share no data: overlapped, each one sequential
      Overlap.inParallel(
        () => write(SuffixArray.suffixArrayWithLcp(docs), "sa_lcp"),
        () => spanGroups(baseDocs, rd, write, "sg_base"),
        () => spanGroups(docs, rd, write, "sg_full"),
        () => spanGroups(hotBase, rd, write, "hot_base"),
        () => (1 to 4).foreach { k =>
          write(SuffixArray.spanGroupStore(docs, k), s"win_k$k")
        })
    }

  private def suffixRead(spark: SparkSession, sfDir: String,
      name: String): DataFrame =
    ParquetRead.parquet(spark, s"${suffixDir(spark, sfDir)}/$name")

  /** The full (idx, doc_id, pos, lcp_prev) SA+LCP arrays. */
  def saLcp(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "sa_lcp")

  /** Span-group store over the FULL corpus (doc_id, pos, fp). */
  def sgFullStore(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "sg_full_store")

  /** Maintained repeat pairs (fp, doc1, pos1, doc2, pos2, lcp) over
    * the full corpus.
    */
  def sgFullPairs(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "sg_full_pairs")

  /** Span-group store over the base corpus (hash-bucket 3 of 10 held
    * out — the q241 delivery rehearsal's "before" state).
    */
  def sgBaseStore(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "sg_base_store")

  /** Maintained repeat pairs over the base corpus. */
  def sgBasePairs(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "sg_base_pairs")

  /** Maintained k-token window store, k in 1..4 (the sub-minLen side
    * of the doc repeat profile).
    */
  def winK(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 4, s"win_k$k is not a maintained store")
    suffixRead(spark, sfDir, s"win_k$k")
  }

  /** Span-group store over the q248 hot-fixture base (every 50th
    * doc) — the persisted "before" state its planted hot delivery
    * folds into.
    */
  def hotBaseStore(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "hot_base_store")

  /** Maintained repeat pairs over the q248 hot-fixture base. */
  def hotBasePairs(spark: SparkSession, sfDir: String): DataFrame =
    suffixRead(spark, sfDir, "hot_base_pairs")

  /** The family's published integrity receipt
    * ([[Curation.artifactManifest]] rows), building the family if it
    * is not yet published — `family` is "pair", "ann", "tok",
    * "decon", "lr" or "suffix".
    */
  def receipt(spark: SparkSession, sfDir: String,
      family: String): DataFrame = {
    val dir = family match {
      case "pair" => pairDir(spark, sfDir)
      case "ann" => annDir(spark, sfDir)
      case "suffix" => suffixDir(spark, sfDir)
      case "lr" => lrDir(spark, sfDir)
      case "decon" => deconDir(spark, sfDir)
      case "tok" => tokDir(spark, sfDir)
      case other => throw new IllegalArgumentException(
        s"unknown artifact family '$other' " +
          "(expected pair|ann|suffix|lr|decon|tok)")
    }
    ParquetRead.parquet(spark, s"$dir/receipt")
  }
}
