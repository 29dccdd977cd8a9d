package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering for
  * scan pruning on more than one predicate column — the public
  * data-lake pattern (Morton 1966; Delta/Iceberg `OPTIMIZE ZORDER`)
  * re-expressed as plain Spark: derive an interleaved sort key, range
  * partition + sort the write by it, and every engine that reads
  * parquet min/max footers (Spark included) skips row groups for 2-D
  * box predicates — where a single-column sort prunes only its own
  * leading column.
  *
  * Scale rationale: a 100 TB fact table queried by BOTH `key_a`
  * ranges and `key_b` ranges cannot be partition-pruned for the
  * second column by any linear sort. Interleaving bits makes file
  * zkey ranges cover small aligned rectangles of the (a, b) plane, so
  * a box predicate touches O(perimeter) files instead of all of them.
  * The write is one range-shuffle — the same cost as any sorted write
  * — and needs no table-format support.
  */
object Layout {

  /** Morton key: bit-interleave the low `bits` bits of two
    * nonnegative integer columns — a's bit i lands at position 2i+1,
    * b's at 2i, so equal-magnitude prefixes of BOTH columns dominate
    * the key equally. Statically unrolled bitwise expression chain
    * (2·bits codegen'd ops, no lambda, no shuffle); values must fit
    * `bits` bits for faithful ordering (higher bits are ignored, the
    * standard Morton truncation).
    */
  def zorderKey(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits=$bits outside [1, 31]")
    // widen to long up front: an IntegerType input would otherwise
    // overflow once interleaved bits pass position 31
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
  }

  /** Compact a parquet dataset to ~`targetFileBytes` output files —
    * the small-files remedy (a 100 TB table accreted by thousands of
    * incremental writes degrades every scan: one task + one footer
    * read per tiny file, and row-group min/max skipping loses its
    * granularity). File count derives from the CURRENT on-disk bytes,
    * so compaction is idempotent; rows round-trip unchanged
    * (LayoutSpec). Uses a round-robin repartition — this utility
    * fixes file SIZE; compose with [[writeZordered]] when the rewrite
    * should also fix ORDER.
    *
    * The rewrite goes through a temp sibling then an atomic-ish
    * swap: compacting in place with mode=overwrite would delete the
    * input before reading it.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val dir = new java.io.File(path)
    val bytes = Option(dir.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.length).sum
    val nFiles = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    val tmp = path.stripSuffix("/") + ".compact-tmp"
    ParquetRead.parquet(spark, path)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(tmp)
    graft.FsUtil.rmTree(dir)
    val ok = new java.io.File(tmp).renameTo(dir)
    require(ok, s"compaction swap failed: $tmp -> $path")
    nFiles
  }

  /** Write `df` clustered by the Z-order of (`colA`, `colB`): the
    * derived `zkey` column rides along in the files (it IS the layout
    * index — predicates can address it directly), rows are range
    * partitioned into `numFiles` output files and sorted within each,
    * so per-file (and per-row-group) zkey min/max ranges are disjoint
    * and parquet footer skipping does the pruning on read.
    */
  def writeZordered(df: DataFrame, path: String, colA: String,
      colB: String, bits: Int = 16, numFiles: Int = 16): Unit =
    df.withColumn("zkey", zorderKey(col(colA), col(colB), bits))
      .repartitionByRange(numFiles, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(path)
}
