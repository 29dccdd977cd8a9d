package graft

import graft.operators.{Curation, Similarity, TextAnalysis}
import graft.sources.Tables

/** Pins the versioned-warehouse behavior of [[ComposedArtifacts]]:
  * the published family directory carries an integrity receipt that
  * matches a recomputation over the published stores (so "which
  * artifact version served this query" is answerable from the
  * warehouse alone), and repeated access reuses the same build (the
  * amortize-across-jobs contract).
  */
class ComposedArtifactsSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  test("published receipt matches recomputed manifest; access is stable") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("artifact", "n_docs", "n_tok", "content_md5")
        .collect().map(_.toString).toSet
    val receipt = rows(ComposedArtifacts.receipt(spark, sfDir, "pair"))
    assert(receipt.nonEmpty)
    val redo = rows(Curation.artifactManifest(Seq(
      "sigs" -> ComposedArtifacts.sigs(spark, sfDir),
      "shingles" -> ComposedArtifacts.shingles(spark, sfDir),
      "scored" -> ComposedArtifacts.scored(spark, sfDir),
      "cont_pairs" -> ComposedArtifacts.contPairs(spark, sfDir),
      "jac_pairs" -> ComposedArtifacts.jacPairs(spark, sfDir),
      "jac_base_pairs" -> ComposedArtifacts.jacBasePairs(spark, sfDir))))
    assert(redo === receipt,
      "published receipt diverged from the published stores")
    // second resolution serves the SAME published build (memoized
    // in-JVM; across JVMs the corpus-fingerprint key does the same)
    val p1 = ComposedArtifacts.sigs(spark, sfDir).inputFiles.toSet
    val p2 = ComposedArtifacts.sigs(spark, sfDir).inputFiles.toSet
    assert(p1 === p2 && p1.nonEmpty)
    // the ann, lr, decon, and tok families publish receipts too
    assert(rows(ComposedArtifacts.receipt(spark, sfDir, "ann")).nonEmpty)
    assert(rows(ComposedArtifacts.receipt(spark, sfDir, "lr")).nonEmpty)
    assert(rows(ComposedArtifacts.receipt(spark, sfDir, "decon")).nonEmpty)
    assert(rows(ComposedArtifacts.receipt(spark, sfDir, "tok")).nonEmpty)
    // round-18 additions resolve and are non-empty: the SQ8 model +
    // code stores (ann family), the BPE merge table + segmented
    // vocabulary (tok family), and the q248 hot-fixture base stores
    // (suffix family)
    assert(ComposedArtifacts.sqStats(spark, sfDir).count() > 0)
    assert(ComposedArtifacts.sqCodes(spark, sfDir).count() > 0)
    assert(ComposedArtifacts.bpeMerges(spark, sfDir).count() > 0)
    assert(ComposedArtifacts.bpeVocab(spark, sfDir).count() > 0)
    assert(ComposedArtifacts.hotBaseStore(spark, sfDir).count() > 0)
    assert(ComposedArtifacts.hotBasePairs(spark, sfDir).count() >= 0)
    // every family's receipt lists exactly the stores its build wrote
    Seq("pair", "ann", "tok", "decon", "lr", "suffix").foreach { family =>
      val r = ComposedArtifacts.receipt(spark, sfDir, family)
      val published = new java.io.File(new java.net.URI(r.inputFiles.head))
        .getParentFile.getParentFile
      val stores = published.listFiles.toSeq
        .filter(f => f.isDirectory && f.getName != "receipt")
        .map(_.getName).toSet
      val listed = r.select("artifact").collect().map(_.getString(0)).toSet
      assert(listed === stores,
        s"$family receipt does not list the stores in $published")
    }
  }

  test("ann family serves rows identical to the retraining forms") {
    // the family trains each model once and derives `cells` and
    // `pq_codes` from its written centroids and codebook; the forms
    // that train in-call must give the same multisets
    val t = Tables(spark, sfDir)
    val same = IngestDemo.sameRows("warehouse diverged from retraining") _
    same("cells", ComposedArtifacts.cells(spark, sfDir),
      Similarity.cellAssignments(t.embeddings))
    same("pq_codes", ComposedArtifacts.pqCodes(spark, sfDir),
      Similarity.pqEncode(t.embeddings))
    val (lm, consts) = TextAnalysis.nbModel(t.documents,
      ComposedArtifacts.PosSources, ComposedArtifacts.NegSources)
    same("nb_lm", ComposedArtifacts.nbLm(spark, sfDir), lm)
    same("nb_consts", ComposedArtifacts.nbConsts(spark, sfDir), consts)
  }

  test("warehouse sweep: TTL-bounded, keeps recent fps, never the resolving key") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-sweep-spec").toFile
    def mk(name: String, ageMs: Long,
        memberAgeMs: Option[Long] = None): java.io.File = {
      val d = new java.io.File(root, name)
      assert(d.mkdirs())
      // a member file so deletion must recurse; its age defaults to
      // the dir's (build liveness keys on the NEWEST inner mtime)
      val part = new java.io.File(d, "part")
      java.nio.file.Files.write(part.toPath, "x".getBytes)
      part.setLastModified(
        System.currentTimeMillis() - memberAgeMs.getOrElse(ageMs))
      d.setLastModified(System.currentTimeMillis() - ageMs)
      d
    }
    val day = ComposedArtifacts.SweepTtlMs
    try {
      val staleBuild = mk(".build-pair-abc", 2 * day)
      val liveBuild = mk(".build-pair-def", day / 2)
      // a build RUNNING past the TTL: top dir old (nested parquet
      // writes never refresh it) but an inner file fresh — must
      // survive (ADVICE round-13: the old top-mtime rule reclaimed
      // these mid-build)
      val longBuild = mk(".build-pair-ghi", 2 * day,
        memberAgeMs = Some(day / 4))
      // six published pair fps, all past the TTL (ages 3-8 days,
      // oldest first), so retention is decided purely by the keep
      // window; fp0 is the key being re-obtained
      val fps = (0 to 5).map(i =>
        mk(s"pair-v1-fp$i", (8 - i) * day))
      val otherFamily = mk("ann-v1-fpz", 10 * day)
      ComposedArtifacts.sweep(root, "pair", "pair-v1-fp0")
      assert(!staleBuild.exists, "stale .build-* survived the sweep")
      assert(liveBuild.exists, "fresh .build-* (possibly live) was deleted")
      assert(longBuild.exists,
        "a live long-running build (old dir, fresh inner file) was reclaimed")
      assert(fps(0).exists, "the key being obtained was deleted")
      // keep = resolving + (KeepPerFamily-1)=3 most recent others
      // (fp5, fp4, fp3); fp1/fp2 are beyond the keep window AND past
      // the TTL -> reclaimed
      assert(!fps(1).exists && !fps(2).exists,
        "old fps beyond the keep window survived")
      assert(fps(3).exists && fps(4).exists && fps(5).exists,
        "recent fps inside the keep window were deleted")
      assert(otherFamily.exists, "sweep crossed family boundaries")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }
}
