package graft.engine

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads that take their data schema from one footer, read on
  * the driver.
  *
  * `spark.read.parquet(path)` infers the data schema through
  * `ParquetFileFormat.mergeSchemasInParallel`, and that is a whole
  * Spark job even with schema merging off, when it reads exactly one
  * footer: one extra driver round per read, which a keyed point lookup
  * ([[Serving.lookup]]) pays on every call, next to its one scan job.
  * [[parquet]] reads the same footer Spark's inference would (the first
  * data file by full path string, hidden files skipped, as
  * `ParquetUtils.inferSchema` picks it with merging off), converts it
  * with the session's own parquet settings, and hands the schema to
  * `spark.read.schema(..).parquet(path)`. Partition columns are still
  * inferred from the directory names, so the frame's schema is the
  * one `spark.read.parquet(path)` returns, with no job run.
  */
object ParquetRead {

  /** `spark.read.parquet(path)`, without the schema-inference job. A
    * path with no data file (missing, empty, a glob) goes to
    * `spark.read.parquet` itself, so its error is Spark's own.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    require(!spark.sessionState.conf.isParquetSchemaMergingEnabled,
      "spark.sql.parquet.mergeSchema is on: one footer cannot give " +
        "the merged schema")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val first =
      if (!fs.exists(root)) None
      else {
        val st = fs.getFileStatus(root)
        if (st.isFile) Some(st) else firstDataFile(fs, root)
      }
    first match {
      case Some(f) => spark.read.schema(footerSchema(spark, conf, f)).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** Spark's hidden-file rule for file-index listings. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  /** The first data file under `dir` by full path string, listing only
    * as far as it: children are visited in the order of their paths'
    * prefixes (a directory's leaves all start with "name/").
    */
  private def firstDataFile(fs: FileSystem, dir: Path): Option[FileStatus] =
    fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
      .iterator
      .flatMap(s => if (s.isDirectory) firstDataFile(fs, s.getPath) else Some(s))
      .nextOption()

  private def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
