package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.ParquetRead

/** Typed access to the driver's star-schema testdata (TESTDATA.md).
  *
  * One parquet file per table under `dir`. At 100 TB these would be
  * multi-file partitioned datasets; [[ParquetRead.parquet]] handles
  * both transparently (a directory of files splits into one task per
  * row-group/128MB split), so nothing here is local-mode-specific.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    ParquetRead.parquet(spark, s"$dir/$name.parquet")

  // lazy vals (not defs): column references like `lineitem("l_orderkey")`
  // must resolve against the SAME plan instance used in a join, or
  // Catalyst sees attributes from a foreign plan (MISSING_ATTRIBUTES).
  lazy val region: DataFrame     = t("region")
  lazy val nation: DataFrame     = t("nation")
  lazy val customer: DataFrame   = t("customer")
  lazy val supplier: DataFrame   = t("supplier")
  lazy val part: DataFrame       = t("part")
  lazy val orders: DataFrame     = t("orders")
  lazy val lineitem: DataFrame   = t("lineitem")
  // events.parquet's `ts` physical type has drifted across testdata
  // generations: TIMESTAMP(NANOS) (read as LONG under
  // spark.sql.legacy.parquet.nanosAsLong, which sessions set), plain
  // timestamp[us] without tz (read as TIMESTAMP_NTZ), or tz-adjusted
  // timestamp (TIMESTAMP). Normalize all three to TIMESTAMP so every
  // downstream `unix_micros(ts)` call analyses; any NEW shape fails
  // loudly here instead of breaking operators at analysis time.
  lazy val events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = t("events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: double division of 1e18-scale nanos
        // loses precision and lands 1us off the oracle's truncation
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        // sessions run UTC, so NTZ->TIMESTAMP is value-preserving and
        // matches DuckDB's (tz-naive) read of the same file.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unexpected type $other — testdata drifted again; " +
            "add a normalization arm in Tables.events")
    }
  }
  lazy val documents: DataFrame  = t("documents")
  lazy val embeddings: DataFrame = t("embeddings")
}
