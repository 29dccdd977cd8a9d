package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.engine.Layout

/** Semantics + layout-property tests for the Z-order clustering
  * utility (the DuckDB oracle arbitrates zkey arithmetic — q120;
  * these pin WHAT the layout buys: disjoint file ranges and box
  * locality).
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey interleaves bits: hand-computed values") {
    // a=5 (101), b=3 (011), bits=3: a2 b2 a1 b1 a0 b0 = 1 0 0 1 1 1 = 39
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"), bits = 3).as("z"))
      .as[Long].head()
    assert(got === 39L)
    // identity rows: z(0,0)=0, z(1,0)=2 (a is the HIGH lane), z(0,1)=1
    val z = Seq((0L, 0L), (1L, 0L), (0L, 1L), (7L, 7L)).toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"), bits = 3).as("z"))
      .as[Long].collect().toSeq
    assert(z === Seq(0L, 2L, 1L, 63L))
    // int columns widen before interleaving (no 32-bit overflow):
    // bit 15 of both lanes lands at positions 31 and 30
    val wide = Seq((32768, 32768)).toDF("a", "b")
      .select(Layout.zorderKey(col("a"), col("b"), bits = 16).as("z"))
      .as[Long].head()
    assert(wide === (3L << 30))
  }

  test("zorder locality: equal prefixes of either column stay adjacent") {
    // Morton guarantee: the 8x8 box [0,8)x[0,8) is exactly the 64
    // lowest keys — a box predicate becomes ONE zkey range
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
      .withColumn("z", Layout.zorderKey(col("a"), col("b"), bits = 6))
    val boxKeys = grid.filter(col("a") < 8 && col("b") < 8)
      .select("z").as[Long].collect().toSet
    assert(boxKeys === (0L until 64L).toSet)
  }

  test("writeZordered: disjoint per-file zkey ranges, box query hits one file") {
    val dir = Files.createTempDirectory("graft-zorder").toString + "/t"
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a.toLong, b.toLong))
      .toDF("a", "b")
    Layout.writeZordered(grid, dir, "a", "b", bits = 6, numFiles = 16)

    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 1, "range partitioning must produce several files")
    // per-file (min, max) zkey ranges must not overlap — that is the
    // property parquet footer skipping prunes on
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(org.apache.spark.sql.functions.min("zkey"),
          org.apache.spark.sql.functions.max("zkey"))
        .as[(Long, Long)].head()
      r
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi < lo2, s"file zkey ranges overlap: $hi >= $lo2")
      case _ =>
    }
    // the aligned 8x8 box = zkeys [0, 64): every row of it lives in
    // the single file whose range covers the low keys — O(box) files
    // touched, not O(all)
    val hit = ranges.count { case (lo, hi) => lo < 64 && hi >= 0 }
    assert(hit === 1, s"aligned box should hit exactly one file, hit $hit")
    // and the data round-trips: the box rows are all present and correct
    val back = spark.read.parquet(dir).filter(col("zkey") < 64)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(back === (for (a <- 0L until 8L; b <- 0L until 8L) yield (a, b)).toSet)
  }

  test("compact: collapses a sprayed dataset, preserves rows, idempotent") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/t"
    val rows = (0L until 5000L).map(i => (i, s"payload-$i"))
    rows.toDF("id", "payload").repartition(64)
      .write.mode("overwrite").parquet(dir)
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(parquetFiles() === 64, "fixture must start sprayed")
    val n = Layout.compact(spark, dir, targetFileBytes = 64L * 1024)
    assert(parquetFiles() === n.toInt)
    assert(parquetFiles() < 64, "compaction must reduce the file count")
    val back = spark.read.parquet(dir).as[(Long, String)].collect().toSet
    assert(back === rows.toSet, "rows must survive compaction unchanged")
    // idempotent: on-disk bytes already at target -> same file count
    val n2 = Layout.compact(spark, dir, targetFileBytes = 64L * 1024)
    assert(math.abs(n2 - n) <= 1,
      s"re-compaction should be a near-no-op: $n -> $n2")
    assert(spark.read.parquet(dir).count() === 5000L)
  }
}
