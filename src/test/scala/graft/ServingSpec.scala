package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

import graft.engine.{Ingest, Serving}
import graft.sources.Tables

class ServingSpec extends SparkSpec {
  import spark.implicits._

  test("S8/S9: keyed write + point lookup round-trips and prunes") {
    val dir = Files.createTempDirectory("graft-serving").toString + "/t"
    val df = Seq(
      ("CMI", "MQ", 1L, 0.61), ("CMI", "OH", 2L, 0.97),
      ("BWI", "F9", 3L, 0.16), ("BWI", "MQ", 4L, 1.45)
    ).toDF("airport", "carrier", "id", "avg_dep_delay")
    Serving.writeKeyed(df, dir, Seq("airport", "carrier"))

    val got = Serving.lookup(spark, dir, Map("airport" -> "CMI"))
    assert(got.count() === 2)
    val one = Serving.lookup(spark, dir,
      Map("airport" -> "BWI", "carrier" -> "F9"))
      .select("id").as[Long].collect().toSeq
    assert(one === Seq(3L))
    // partition layout exists on disk (the "query-shaped key")
    assert(new java.io.File(s"$dir/airport=CMI/carrier=OH").exists())
  }

  test("S3: year filter on the warehouse prunes partitions, by scan metric") {
    val dir = Files.createTempDirectory("graft-wh").toString + "/flights"
    val flights = AirlineEntries.syntheticFlights(
      Tables(spark, "/root/testdata/sf0.001"))
    Ingest.writeWarehouse(flights, dir)

    def parquetFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(parquetFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    val total = parquetFiles(new java.io.File(dir))
    // synthetic dates span 2008-01 .. 2009-02 → >= 14 (year, month) dirs
    assert(total >= 14, s"expected a multi-partition warehouse, got $total files")

    val pruned = Ingest.readWarehouse(spark, dir)
      .filter(col("year") === 2008 && col("month") === 1)
    assert(pruned.count() > 0)
    pruned.collect() // executes pruned's own plan → its scan metrics fill in
    val plan = pruned.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case f: FileSourceScanExec => f }.head
    assert(scan.partitionFilters.nonEmpty,
      "year/month predicates must prune at the partition level, not post-scan")
    val scanned = scan.metrics("numFiles").value
    assert(scanned > 0 && scanned < total,
      s"pruned scan read $scanned of $total files - pruning did not happen")
  }

  // execute the pruned read and return (files scanned, total parquet
  // files under dir, partition filters present)
  private def prunedScanStats(df: org.apache.spark.sql.DataFrame,
      dir: String): (Long, Int, Boolean) = {
    def dataFiles(f: java.io.File): Int =
      if (f.isDirectory) f.listFiles().map(dataFiles).sum
      else if (f.getName.endsWith(".parquet")) 1 else 0
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val scan = plan.collect { case f: FileSourceScanExec => f }.head
    (scan.metrics("numFiles").value, dataFiles(new java.io.File(dir)),
      scan.partitionFilters.nonEmpty)
  }

  test("S1/S3 at reference shape: 24-file nested CSV ingest -> pruned warehouse") {
    // the reference reads 240 CSVs from a nested directory tree
    // (R:94-107); rehearse that shape with 24 files (2 years x 12
    // months) under plain nested dirs (no key=value partition
    // inference — discovery is the glob's job, as in readCsv)
    val base = Files.createTempDirectory("graft-multicsv").toString
    val header = "FlightDate,UniqueCarrier,FlightNum,Origin,Dest,DepTime,DepDelay,ArrDelay"
    var expected = 0
    for (y <- 2008 to 2009; m <- 1 to 12) {
      val d = new java.io.File(f"$base/$y/$m%02d")
      assert(d.mkdirs())
      val rows = (1 to 3).map { i =>
        expected += 1
        f"$y-$m%02d-${i + 9}%02d,AA,${100 + i},JFK,ORD,06${10 * i}%02d,1.0,2.0"
      } :+ "not-a-date,XX,bad,row" // malformed: DROPMALFORMED eats it
      java.nio.file.Files.write(d.toPath.resolve("part-0.csv"),
        (header +: rows).mkString("\n").getBytes)
    }
    val df = Ingest.readCsv(spark, s"$base/*/*/*.csv")
    // count THROUGH a parsed column: a bare count() (even over a
    // select) prunes to an empty projection, CSV parsing is skipped,
    // and DROPMALFORMED never evaluates — the malformed rows would be
    // counted. A filter referencing the column forces the parse;
    // Spark's documented CSV column-pruning behavior, the same reason
    // a09 gates through a real query.
    assert(df.filter(col("FlightDate").isNotNull).count() === expected,
      s"recursive glob over 24 nested files must read all $expected clean rows")
    assert(df.select("FlightDate").distinct().count() === 2 * 12 * 3)

    // one warehouse write -> year/month dirs; a year predicate prunes
    // to half the files by scan metric (the S3 semantics at 24-file
    // shape)
    val wh = s"$base/wh"
    Ingest.writeWarehouse(df, wh)
    val (scanned, total, hasPart) = prunedScanStats(
      Ingest.readWarehouse(spark, wh).filter(col("year") === 2009), wh)
    assert(hasPart)
    assert(total >= 24, s"expected >= 24 partition dirs' files, got $total")
    assert(scanned > 0 && scanned * 2 <= total,
      s"year filter should halve the scan: read $scanned of $total")
  }

  test("upsertKeyed: replaces matched rows, keeps the rest, touches only affected partitions") {
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    val base = Seq(
      ("CMI", 1L, 0.61), ("CMI", 2L, 0.97),
      ("BWI", 3L, 0.16), ("LAX", 4L, 1.45)
    ).toDF("airport", "id", "avg_dep_delay")
    Serving.writeKeyed(base, dir, Seq("airport"))
    def filesOf(part: String) = new java.io.File(s"$dir/airport=$part")
      .listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified).toMap
    val bwiBefore = filesOf("BWI")
    val laxBefore = filesOf("LAX")

    // update one CMI row, insert a new CMI row — BWI/LAX untouched
    val updates = Seq(("CMI", 2L, 0.50), ("CMI", 9L, 2.00))
      .toDF("airport", "id", "avg_dep_delay")
    Serving.upsertKeyed(spark, dir, updates, Seq("airport"), Seq("id"))

    val got = spark.read.parquet(dir)
      .select("airport", "id", "avg_dep_delay")
      .as[(String, Long, Double)].collect().toSet
    assert(got === Set(
      ("CMI", 1L, 0.61), ("CMI", 2L, 0.50), ("CMI", 9L, 2.00),
      ("BWI", 3L, 0.16), ("LAX", 4L, 1.45)),
      "matched row replaced, new row inserted, others intact")
    // partition-level rewrite: the untouched partitions keep their
    // very files (same names, same mtimes)
    assert(filesOf("BWI") === bwiBefore, "BWI partition must be untouched")
    assert(filesOf("LAX") === laxBefore, "LAX partition must be untouched")
    // idempotent: replaying the same updates changes nothing
    Serving.upsertKeyed(spark, dir, updates, Seq("airport"), Seq("id"))
    assert(spark.read.parquet(dir).count() === 5)
  }

  test("deleteKeyed: targeted rows gone, foreign partitions byte-untouched, emptied partition removed") {
    val dir = Files.createTempDirectory("graft-delete").toString + "/t"
    val base = Seq(
      ("CMI", 1L, 0.61), ("CMI", 2L, 0.97),
      ("BWI", 3L, 0.16), ("LAX", 4L, 1.45)
    ).toDF("airport", "id", "avg_dep_delay")
    Serving.writeKeyed(base, dir, Seq("airport"))
    def filesOf(part: String) = {
      val d = new java.io.File(s"$dir/airport=$part")
      if (!d.exists()) Map.empty[String, Long]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val laxBefore = filesOf("LAX")

    // delete one CMI row and the whole BWI partition's only row
    val tombs = Seq(("CMI", 2L), ("BWI", 3L)).toDF("airport", "id")
    val receipt = Serving.deleteKeyed(spark, dir, tombs, Seq("airport"), Seq("id"))
    // the audit receipt: 3 rows scanned in CMI+BWI, 2 deleted, CMI
    // rewritten, BWI's directory removed outright
    assert(receipt === Serving.DeleteReceipt(3L, 1L, 1, 1))
    assert(receipt.rowsDeleted === 2L)

    val got = spark.read.parquet(dir)
      .select("airport", "id", "avg_dep_delay")
      .as[(String, Long, Double)].collect().toSet
    assert(got === Set(("CMI", 1L, 0.61), ("LAX", 4L, 1.45)),
      "targeted rows deleted, others intact")
    assert(filesOf("LAX") === laxBefore, "LAX partition must be untouched")
    // the fully-emptied partition's directory is gone (dynamic
    // overwrite alone would have silently kept its files)
    assert(filesOf("BWI").isEmpty, "emptied BWI partition dir must be removed")
    // idempotent: replaying the tombstones changes nothing — and the
    // replay's receipt says so (0 deleted)
    val replay = Serving.deleteKeyed(spark, dir, tombs, Seq("airport"), Seq("id"))
    assert(replay.rowsDeleted === 0L)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("deleteKeyed: escaped partition values (colon/space) still hard-delete on disk") {
    // Spark URL-encodes special chars in partition dir names
    // ("A:B C" -> "A%3AB C" or similar) — a hand-built s"$k=$v" path
    // would miss the real directory; the file-lineage derivation
    // must still remove it
    val dir = Files.createTempDirectory("graft-delete-esc").toString + "/t"
    val base = Seq(
      ("A:B C", 1L, 0.5), ("plain", 2L, 0.7)
    ).toDF("airport", "id", "avg_dep_delay")
    Serving.writeKeyed(base, dir, Seq("airport"))
    val tombs = Seq(("A:B C", 1L)).toDF("airport", "id")
    val receipt = Serving.deleteKeyed(spark, dir, tombs, Seq("airport"), Seq("id"))
    assert(receipt === Serving.DeleteReceipt(1L, 0L, 0, 1))
    val got = spark.read.parquet(dir)
      .select("airport", "id").as[(String, Long)].collect().toSet
    assert(got === Set(("plain", 2L)))
    // the escaped directory itself is gone, not just unreadable
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.forall(!_.contains("A%3A")) && dirs.forall(_ != "airport=A:B C"),
      s"escaped partition dir must be deleted, found: $dirs")
    // null partition values are rejected explicitly, not mis-pathed
    val nullTombs = Seq((null.asInstanceOf[String], 2L)).toDF("airport", "id")
    intercept[IllegalArgumentException] {
      Serving.deleteKeyed(spark, dir, nullTombs, Seq("airport"), Seq("id"))
    }
  }

  test("upsert with a single INT partition key takes the isin path intact") {
    // the isin/InSet footprint must behave for non-string partition
    // values too (Spark re-types partition dir names on read; the
    // predicate compares against the read-back type)
    val dir = Files.createTempDirectory("graft-intkey").toString + "/t"
    val base = Seq((2024, 1L, 0.5), (2025, 2L, 0.7), (2026, 3L, 0.9))
      .toDF("year", "id", "v")
    Serving.writeKeyed(base, dir, Seq("year"))
    def filesOf(part: String) = {
      val d = new java.io.File(s"$dir/year=$part")
      if (!d.exists()) Map.empty[String, Long]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val y2026 = filesOf("2026")
    Serving.upsertKeyed(spark,
      dir, Seq((2025, 2L, 9.9)).toDF("year", "id", "v"),
      Seq("year"), Seq("id"))
    assert(spark.read.parquet(dir).select("year", "id", "v")
      .as[(Int, Long, Double)].collect().toSet ===
      Set((2024, 1L, 0.5), (2025, 2L, 9.9), (2026, 3L, 0.9)))
    assert(filesOf("2026") === y2026, "untouched int partition intact")
  }

  test("upsert/delete with COMPOSITE partition keys (OR-of-ANDs footprint)") {
    // single-col footprints take the isin/InSet path; composite keys
    // take the OR-of-ANDs branch — this pins that branch end to end
    val dir = Files.createTempDirectory("graft-composite").toString + "/t"
    val base = Seq(
      (2024, "CMI", 1L, 0.61), (2024, "BWI", 2L, 0.97),
      (2025, "CMI", 3L, 0.16), (2025, "LAX", 4L, 1.45)
    ).toDF("year", "airport", "id", "avg_dep_delay")
    Serving.writeKeyed(base, dir, Seq("year", "airport"))
    def filesOf(part: String) = {
      val d = new java.io.File(s"$dir/$part")
      if (!d.exists()) Map.empty[String, Long]
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    // (2025, CMI) must not touch (2024, CMI) or (2025, LAX) — the
    // predicate is per-TUPLE, not per-column (a column-wise isin
    // would wrongly sweep both)
    val cmi2024 = filesOf("year=2024/airport=CMI")
    val lax2025 = filesOf("year=2025/airport=LAX")
    val updates = Seq((2025, "CMI", 3L, 9.99))
      .toDF("year", "airport", "id", "avg_dep_delay")
    Serving.upsertKeyed(spark, dir, updates, Seq("year", "airport"), Seq("id"))
    assert(spark.read.parquet(dir)
      .select("year", "airport", "id", "avg_dep_delay")
      .as[(Int, String, Long, Double)].collect().toSet === Set(
        (2024, "CMI", 1L, 0.61), (2024, "BWI", 2L, 0.97),
        (2025, "CMI", 3L, 9.99), (2025, "LAX", 4L, 1.45)))
    assert(filesOf("year=2024/airport=CMI") === cmi2024,
      "(2024, CMI) must be untouched by a (2025, CMI) upsert")
    assert(filesOf("year=2025/airport=LAX") === lax2025)
    val receipt = Serving.deleteKeyed(spark, dir,
      Seq((2025, "CMI", 3L)).toDF("year", "airport", "id"),
      Seq("year", "airport"), Seq("id"))
    assert(receipt.rowsDeleted === 1L)
    assert(filesOf("year=2025/airport=CMI").isEmpty,
      "emptied composite partition dir must be removed")
    assert(filesOf("year=2024/airport=CMI") === cmi2024,
      "(2024, CMI) must survive the (2025, CMI) delete untouched")
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("S7: catalog database create/drop") {
    Serving.createDatabase(spark, "airline_ontime_test")
    assert(spark.catalog.databaseExists("airline_ontime_test"))
    Serving.dropDatabase(spark, "airline_ontime_test")
    assert(!spark.catalog.databaseExists("airline_ontime_test"))
  }

  test("JSONL round-trip preserves control chars, quotes, and unicode exactly") {
    import graft.sources.JsonLines
    val dir = Files.createTempDirectory("graft-jsonl").toString + "/docs"
    val hostile = Seq(
      (1L, "plain text"),
      (2L, "embedded\nnewline and\ttab"),
      (3L, "quotes \" and \\ backslashes \\\" mixed"),
      (4L, "unicode: éß中文 😀"),
      (5L, ""),
      (6L, "trailing space "),
      (7L, "null char borders: abc")
    ).toDF("doc_id", "text")
    JsonLines.write(hostile, dir)
    val back = JsonLines.read(spark, dir, hostile.schema)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back === hostile.as[(Long, String)].collect().sortBy(_._1).toSeq,
      "every payload must survive the JSON escape/parse byte-exactly")
    // DROPMALFORMED: a corrupt line vanishes instead of poisoning the read
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".json")).head
    java.nio.file.Files.writeString(f.toPath,
      "{not json at all\n" + java.nio.file.Files.readString(f.toPath))
    // drop the Hadoop checksum sidecar the tamper just invalidated
    new java.io.File(f.getParent, "." + f.getName + ".crc").delete()
    val cleaned = JsonLines.read(spark, dir, hostile.schema)
    assert(cleaned.count() === 7L, "the malformed line must drop, the rest stand")
  }
}
