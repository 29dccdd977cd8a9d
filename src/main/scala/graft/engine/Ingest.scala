package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Ingest layer for the airline on-time table (SURVEY.md §1.4, §2.1).
  *
  * The reference ran a per-question `PrepareData` cleaning job over 240
  * CSVs (R:111-131) because "Hadoop jobs can only accept 1-2 files as
  * input at a time" (R:138). Spark needs none of that: one schema'd CSV
  * read (S1/S2), Catalyst column pruning replaces per-question
  * projection files, and a year/month-partitioned parquet warehouse
  * replaces both the HDFS text intermediates (S5/S6) and the file-level
  * `Predicate` pushdown (S3, R:128-129) — `filter($"year" === 2008)`
  * prunes whole directories.
  */
object Ingest {

  /** Superset of every column any reference job consumes
    * (R:147, 171, 200, 288, 335, 449, 510).
    *
    * `FlightDate` stays DATE; `DepTime` stays STRING ("HHmm", may be
    * "2400"+ malformed — repaired downstream by AirlineFunctions.F3);
    * delays are DOUBLE minutes, nullable (cleaning drops per query).
    */
  val flightSchema: StructType = StructType(Seq(
    StructField("FlightDate", DateType, nullable = true),
    StructField("UniqueCarrier", StringType, nullable = true),
    StructField("FlightNum", IntegerType, nullable = true),
    StructField("Origin", StringType, nullable = true),
    StructField("Dest", StringType, nullable = true),
    StructField("DepTime", StringType, nullable = true),
    StructField("DepDelay", DoubleType, nullable = true),
    StructField("ArrDelay", DoubleType, nullable = true)))

  /** S1/S2/P2 — schema'd CSV scan over a glob (handles the reference's
    * 240-file layout as one distributed read; one task per split).
    * DROPMALFORMED replicates the "missing or malformed fields"
    * cleaning (R:112); per-query null guards stay with each query.
    */
  def readCsv(spark: SparkSession, glob: String): DataFrame =
    spark.read
      .schema(flightSchema)
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .option("dateFormat", "yyyy-MM-dd")
      .csv(glob)

  /** S5/S6 — columnar warehouse: write once partitioned by year/month
    * so every downstream year filter (P3, R:512) is partition pruning,
    * the Spark-native form of the reference's file `Predicate` (S3).
    * At 100 TB this is the one full-data pass; everything after reads
    * pruned column chunks.
    *
    * The warehouse is parquet, read back through [[ParquetRead]]: the
    * DataSource-v1 scan (FileSourceScanExec) gives directory-level
    * partition pruning, min/max predicate pushdown into row-group
    * metadata, and column pruning; ServingSpec asserts the pruning by
    * scan metric.
    */
  def writeWarehouse(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("year", year(col("FlightDate")))
      .withColumn("month", month(col("FlightDate")))
      .write.mode("overwrite")
      .partitionBy("year", "month")
      .parquet(path)
  }

  def readWarehouse(spark: SparkSession, path: String): DataFrame =
    ParquetRead.parquet(spark, path)
}
