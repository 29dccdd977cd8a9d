package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit}

/** The reference's `RequestLeg` DTO (R:584-588; Cassandra DDL
  * R:596-611): one best-leg row of the trip planner's output, keyed
  * for `selectByRequest` lookups. `id` is the reference's surrogate
  * key — a random UUID there; HERE a deterministic md5 of the natural
  * key `(request, leg_num)`, because a re-runnable loader must be
  * idempotent (same input → same table, bit for bit) where a random
  * UUID would churn every row on every replay.
  */
case class RequestLeg(
    request_origin: String, request_stop: String, request_dest: String,
    request_date: java.sql.Date, id: String, leg_num: Int,
    leg_origin: String, leg_dest: String, leg_unique_carrier: String,
    leg_flight_num: Int,
    leg_scheduled_departure: java.sql.Timestamp, leg_arr_delay: Int)

/** Serving layer (SURVEY.md §3.3): the Spark-native analogue of the
  * reference's Cassandra repositories.
  *
  * The reference designed each Cassandra table's partition key around
  * its query pattern — `((airport, unique_carrier), id)` for
  * `selectByAirport` (R:263-274) and `((request_origin, request_stop,
  * request_dest, request_date), id)` for `selectByRequest`
  * (R:596-615). The same query-shaped access pattern falls out of a
  * parquet warehouse partitioned by the lookup columns: a point lookup
  * reads ONLY the matching partition directories (partition pruning),
  * giving the "index per query" effect with no external service.
  */
object Serving {

  /** S7 (R:63-70) — keyspace DDL ≡ catalog database over a warehouse
    * dir.
    */
  def createDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  def dropDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")

  /** S8 (R:263-270, R:596-611) — write a result table keyed for its
    * query pattern. Batch insert (R:276, R:617) ≡ the single write.
    * Scale note: partition columns must be low-to-mid cardinality
    * (airport, carrier, date) — the same constraint Cassandra's
    * partition-key design imposes.
    */
  def writeKeyed(df: DataFrame, path: String, keyCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(keyCols: _*).parquet(path)

  /** Partition-aware upsert into a [[writeKeyed]] table: rows in
    * `updates` replace existing rows with the same `idCols` identity;
    * everything else stands. ONLY the partitions `updates` touches
    * are read and rewritten (dynamic partition overwrite — untouched
    * partition directories keep their very files), so per-batch cost
    * scales with the update's partition footprint, not the table —
    * the incremental-maintenance shape that pairs with
    * `Curation.snapshotDiff` / `Dedup.incrementalDedup` upstream.
    *
    * The merged result is materialized (`localCheckpoint`) before the
    * write because it reads the same path it overwrites; memory is
    * bounded by the AFFECTED partitions' size — the honest constraint
    * of any rewrite-based upsert (incremental batches touch few
    * partitions; a full-table update is [[writeKeyed]]).
    */
  /** Ceiling on the affected-partition footprint [[upsertKeyed]] /
    * [[deleteKeyed]] will localize to the driver. Keyed serving tables
    * have low-to-mid-cardinality partition keys by construction (the
    * [[writeKeyed]] constraint), so a real batch touches thousands of
    * partitions at most; a tombstone/update set spanning millions of
    * partitions is a misrouted full-table rewrite — fail it loudly
    * (use [[writeKeyed]]) instead of OOMing the driver. The ceiling is
    * also sized for the OR-of-ANDs pruning predicate the footprint
    * becomes: a few thousand EqualTo nodes analyze fine, a 100k-node
    * boolean tree stalls Catalyst before any scan starts — above this
    * cap the right shape is a broadcast semi-join on the keys, i.e. a
    * different primitive.
    */
  val MaxAffectedPartitions: Int = 10000

  private def boundedDistinct(df: DataFrame, what: String): Array[org.apache.spark.sql.Row] = {
    val rows = df.distinct().limit(MaxAffectedPartitions + 1).collect()
    require(rows.length <= MaxAffectedPartitions,
      s"$what spans > $MaxAffectedPartitions partitions — this is a " +
        "full-table rewrite; use writeKeyed instead")
    rows
  }

  /** Static pruning predicate for an affected-partition footprint:
    * single partition column → `isin` (Catalyst folds it to one InSet
    * — no boolean tree, still partition-prunable, comfortable at the
    * full 10k cap); composite keys → OR-of-ANDs (fine at the
    * footprint sizes composite serving keys produce).
    */
  private def footprintPredicate(keyCols: Seq[String],
      affected: Array[org.apache.spark.sql.Row]): Column =
    if (keyCols.size == 1)
      col(keyCols.head).isin(affected.map(_.get(0)).toIndexedSeq: _*)
    else affected.map { r =>
      keyCols.zipWithIndex.map { case (k, i) => col(k) === lit(r.get(i)) }
        .reduce((a: Column, b: Column) => a && b)
    }.reduce((a: Column, b: Column) => a || b)

  def upsertKeyed(spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], idCols: Seq[String]): Unit = {
    require(idCols.nonEmpty, "idCols must identify rows")
    val cols = updates.columns.toSeq
    // affected partition keys, localized: bounded by the update's
    // partition footprint (the same smallness writeKeyed's
    // low-cardinality key constraint already imposes, and hard-capped
    // at MaxAffectedPartitions) — footprintPredicate's explicit
    // isin / OR-of-ANDs makes the pruning STATIC and plan-visible
    // instead of betting on dynamic partition pruning firing
    val affected = boundedDistinct(updates.select(keyCols.map(col): _*), "updates")
    require(affected.nonEmpty, "updates are empty")
    val existing = ParquetRead.parquet(spark, path)
      .filter(footprintPredicate(keyCols, affected))
    val survivors = existing
      .join(updates.select(idCols.map(col): _*).distinct(), idCols,
        "left_anti")
      .select(cols.map(col): _*)
    val merged = survivors.unionByName(updates.select(cols.map(col): _*))
      .localCheckpoint(true)
    overwritePartitions(merged, path, keyCols)
  }

  /** Dynamic partition overwrite as a per-write option, so no other
    * write sharing the session sees it: only the partitions present in
    * `df` are replaced, every other directory keeps its files.
    */
  private def overwritePartitions(df: DataFrame, path: String,
      keyCols: Seq[String]): Unit =
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(keyCols: _*).parquet(path)

  /** The audit evidence a [[deleteKeyed]] call returns: row counts
    * before/after over the affected partitions and the partition-
    * directory fates — what a takedown pipeline logs as its receipt
    * (a governance delete that cannot say what it deleted is not
    * auditable).
    */
  final case class DeleteReceipt(
      rowsBefore: Long, rowsAfter: Long,
      partitionsRewritten: Int, partitionsRemoved: Int) {
    def rowsDeleted: Long = rowsBefore - rowsAfter
  }

  /** Hard delete of specific rows from a keyed warehouse table — the
    * right-to-be-forgotten / takedown primitive ([[upsertKeyed]]'s
    * destructive sibling; a 100 TB corpus under data-governance rules
    * needs targeted deletes that do NOT rewrite the world). `tombstones`
    * must carry `keyCols` (the partition columns — used ONLY to bound
    * the rewrite to affected partitions, statically) and `idCols` (the
    * row identity to delete). Untouched partitions keep their very
    * files (dynamic partition overwrite); affected partitions are
    * rewritten minus the anti-joined ids. Idempotent: deleting already-
    * absent ids rewrites the partitions to identical content. Returns
    * the [[DeleteReceipt]] audit evidence: rowsBefore rides the same
    * pre-overwrite pass that derives the affected directories,
    * rowsAfter is one count over the checkpointed survivors.
    */
  def deleteKeyed(spark: SparkSession, path: String, tombstones: DataFrame,
      keyCols: Seq[String], idCols: Seq[String]): DeleteReceipt = {
    require(idCols.nonEmpty, "idCols must identify rows")
    val affected =
      boundedDistinct(tombstones.select(keyCols.map(col): _*), "tombstones")
    require(affected.nonEmpty, "tombstones are empty")
    require(affected.forall(r => keyCols.indices.forall(!r.isNullAt(_))),
      "tombstone partition-key values must be non-null")
    val pred = footprintPredicate(keyCols, affected)
    // partition directories are resolved from the SCAN's own file
    // paths, never re-rendered from key values — Spark escapes special
    // chars in partition dir names and may re-type values on
    // read-back, so a hand-built s"$k=$v" path can miss the real
    // directory and silently leave "deleted" rows on disk.
    // input_file_name() is projected IMMEDIATELY above the file scan
    // (it only yields real paths inside the scan stage: above a
    // shuffled join it returns ""), then carried through the anti-join
    // as ordinary data, so the survivors join is computed exactly once
    // and both dir sets come from the one lineage. The value is a
    // URL-ENCODED URI string ("…/airport=A%3AB%20C/part-…") — it must
    // be decoded via java.net.URI before building a Path, or fs.delete
    // resolves a different, non-existent directory.
    val srcFile = "__graft_src_file"
    val existing = ParquetRead.parquet(spark, path).filter(pred)
      .withColumn(srcFile,
        org.apache.spark.sql.functions.input_file_name())
    def dirOf(f: String): org.apache.hadoop.fs.Path = {
      require(f.nonEmpty, "input_file_name lineage lost — file-path " +
        "column must be projected inside the scan stage")
      new org.apache.hadoop.fs.Path(new java.net.URI(f)).getParent
    }
    def fileDirs(df: DataFrame): Set[org.apache.hadoop.fs.Path] = df
      .select(col(srcFile)).distinct().collect()
      .map(r => dirOf(r.getString(0))).toSet
    // ONE pass over the scan yields both the affected dirs and the
    // receipt numerator (counted BEFORE the overwrite below mutates
    // the very partitions this frame reads)
    val perFile = existing.groupBy(col(srcFile))
      .agg(count(lit(1)).as("n")).collect()
    val affectedDirs = perFile.map(r => dirOf(r.getString(0))).toSet
    val rowsBefore = perFile.map(_.getLong(1)).sum
    val survivors = existing
      .join(tombstones.select(idCols.map(col): _*).distinct(), idCols,
        "left_anti")
      .localCheckpoint(true)
    val survivedDirs = fileDirs(survivors)
    // dynamic overwrite only rewrites partitions PRESENT in the
    // output — a partition whose every row died would silently keep
    // its old files. Remove fully-emptied partition dirs explicitly,
    // and FAIL if the filesystem reports a miss: a silent false from
    // fs.delete would leave "forgotten" rows on disk.
    val emptied = (affectedDirs -- survivedDirs).toSeq.sortBy(_.toString)
    if (survivedDirs.nonEmpty)
      overwritePartitions(survivors.drop(srcFile), path, keyCols)
    if (emptied.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach(dir =>
        require(fs.delete(dir, true),
          s"failed to hard-delete emptied partition dir $dir"))
    }
    DeleteReceipt(
      rowsBefore = rowsBefore,
      rowsAfter = survivors.count(),
      partitionsRewritten = survivedDirs.size,
      partitionsRemoved = emptied.size)
  }

  /** S10 (R:626-631) — the typed HDFS→Cassandra loader
    * (`RequestsClientToCassandra`): read the trip planner's
    * `toms_legs{1,2}.txt` text output, map each line to a
    * [[RequestLeg]], ready for [[writeKeyed]] under the request
    * partition key (the `requestlegsbyrequest` analogue, R:596-611).
    *
    * Line shape (R:553-571):
    * `request\t<origin stop dest yyyy-MM-dd legN>\t<leg_origin
    * leg_dest carrier flightnum HH:mm dd/MM/yyyy delay>` — split on
    * tabs, then the two payloads on spaces; the schedule re-parses
    * with F5's `HH:mm dd/MM/yyyy` format and the delay truncates to
    * the DTO's int (R:587; golden delays are all `.00`). Malformed
    * lines (wrong field count / unparseable date) are dropped, the
    * same cleaning posture as readCsv's DROPMALFORMED.
    *
    * Scale: a pure per-line projection over `spark.read.text` — no
    * shuffle at all; the downstream writeKeyed repartitions by the
    * request key like any keyed sink.
    */
  def loadRequestLegs(spark: SparkSession, glob: String): Dataset[RequestLeg] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val f = split(col("value"), "\t")
    val r = split(col("req"), " ")
    val l = split(col("leg"), " ")
    spark.read.text(glob)
      .select(f.getItem(0).as("tag"), f.getItem(1).as("req"),
        f.getItem(2).as("leg"))
      .filter(col("tag") === "request" &&
        size(split(col("req"), " ")) === 5 &&
        size(split(col("leg"), " ")) === 7)
      .select(
        r.getItem(0).as("request_origin"),
        r.getItem(1).as("request_stop"),
        r.getItem(2).as("request_dest"),
        to_date(r.getItem(3), "yyyy-MM-dd").as("request_date"),
        // unconditional strip of the first 3 chars, exactly the DuckDB
        // twin's substr(r[5], 4): no length cap (the old 9-char cap
        // truncated) and no prefix match (a literal-"leg" regexp would
        // diverge from the twin on any malformed prefix)
        r.getItem(4).substr(lit(4), length(r.getItem(4)))
          .cast("int").as("leg_num"),
        l.getItem(0).as("leg_origin"),
        l.getItem(1).as("leg_dest"),
        l.getItem(2).as("leg_unique_carrier"),
        l.getItem(3).cast("int").as("leg_flight_num"),
        to_timestamp(concat_ws(" ", l.getItem(4), l.getItem(5)),
          "HH:mm dd/MM/yyyy").as("leg_scheduled_departure"),
        l.getItem(6).cast("double").cast("int").as("leg_arr_delay"))
      .filter(col("request_date").isNotNull &&
        col("leg_scheduled_departure").isNotNull &&
        col("leg_num").isNotNull && col("leg_flight_num").isNotNull &&
        col("leg_arr_delay").isNotNull)
      .withColumn("id", md5(concat_ws(" ",
        col("request_origin"), col("request_stop"), col("request_dest"),
        col("request_date").cast("string"),
        col("leg_num").cast("string"))))
      .as[RequestLeg]
  }

  /** S9 (R:274, R:615) — point lookup: filters on the partition columns
    * prune to the matching directories; only non-key predicates touch
    * row data. A lookup is one scan job: the schema comes from one
    * footer read on the driver ([[ParquetRead]]), not from a
    * schema-inference job.
    */
  def lookup(spark: SparkSession, path: String,
      key: Map[String, Any]): DataFrame = {
    val pred = key.map { case (k, v) => col(k) === v }
      .reduce((a: Column, b: Column) => a && b)
    ParquetRead.parquet(spark, path).filter(pred)
  }
}
