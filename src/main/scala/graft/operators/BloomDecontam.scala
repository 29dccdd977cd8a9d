package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}

import graft.operators.OrderedOut._

/** Bloom-filter benchmark decontamination over token windows — the
  * shape a 100 TB pipeline actually runs: build a fixed-size bit array
  * from the EVAL set's span fingerprints once, broadcast it, and probe
  * every training window with zero shuffle of the eval side (builder
  * brief; complements [[Curation.decontaminate]]'s exact-join form).
  *
  * The filter is DETERMINISTIC and engine-portable by construction:
  * bit `j` of a window fingerprint `fp` (md5 of the space-joined
  * window, [[SubstringDedup.windowOccurrences]]) is
  * `bigint(md5(fp || '#' || j)[1..15 hex]) % m` — pure md5 arithmetic,
  * so DuckDB computes the IDENTICAL bit set, false positives included.
  * That yields two equivalent formulations, both provided:
  *
  *  - [[decontaminateRelational]]: the bloom as relational algebra —
  *    the eval bit SET as a DataFrame, membership as an equi-join +
  *    all-seeds count. Oracle-gated (q113); also the fallback when `m`
  *    outgrows executor memory.
  *  - [[buildFilter]] + [[decontaminateWithFilter]]: the production
  *    path — a byte-array `Aggregator` (map-side partial ORs, one
  *    m/8-byte blob per partition crosses the shuffle), the blob
  *    broadcast, each document's windows probed per row by one
  *    bit-test UDF. The UDF is justified the mapPartitions way:
  *    probing a broadcast bit array has no Column-expression
  *    equivalent (no binary bit-get), and the alternative — the
  *    relational join — shuffles every train-window bit. The probe is
  *    row-local, so it runs over `readStream` unchanged. Spec-pinned
  *    equal to the relational form (BloomDecontamSpec).
  *
  * Bloom semantics: no false negatives ever (the bloom hit set is a
  * superset of the exact shared-window set); false-positive rate
  * ≈ (1-e^(-2n/m))² — size `m` ≈ 16·n_eval_windows for ~1% per-window
  * FP. At m=2^16 the blob is 8 KB; a billion-window eval manifest at
  * m=2^34 is 2 GB — still one broadcast, vs shuffling the eval set
  * into every join task round after round.
  */
object BloomDecontam {

  private def $(name: String): Column = col(name)

  /** Default sizing: 2^16 bits, 2 hash seeds, eval = doc_id%10==0
    * (the [[Curation.decontaminate]] manifest stand-in).
    */
  val DefaultM = 65536
  val DefaultSeeds = 2
  val DefaultEvalMod = 10L

  /** Bit index of `fp` under hash seed `s`: 60 bits of
    * `md5(fp || '#' || s)` mod `m`. Identical arithmetic in DuckDB:
    * `CAST(concat('0x', substr(md5(fp || '#' || s), 1, 15)) AS
    * BIGINT) % m`.
    */
  def bitIndex(fp: Column, s: Int, m: Int): Column =
    conv(substring(md5(concat(fp, lit(s"#$s"))), 1, 15), 16, 10)
      .cast("long") % m

  /** All `seeds` bit indices of `fp` as an array column (duplicate
    * bits kept — membership counts matched rows, and a fp whose two
    * seeds collide must still count both).
    */
  def bitArray(fp: Column, m: Int, seeds: Int): Column =
    array((0 until seeds).map(s => bitIndex(fp, s, m)): _*)

  // ----------------------------------------------------------------
  // relational formulation (the oracle-gated contract, q113)
  // ----------------------------------------------------------------

  /** Training documents flagged by the bloom filter, bloom-as-algebra:
    * (doc_id, n_hit_windows) for train docs (doc_id % evalMod != 0)
    * with ≥ 1 window whose every seed bit is set by some eval window.
    * Exactly the byte-array filter's semantics — false positives and
    * all — as an equi-join on bit indices.
    */
  /** The relational bloom over a prepared (doc_id, fp) window table —
    * factored so composed pipelines ([[Curation.spanCleanCorpus]]) can
    * share one persisted table across the coverage and bloom legs.
    * The bit set is ≤ seeds × eval windows — AQE broadcasts it, so
    * the train leg never shuffles for the join.
    */
  def flaggedFromWindows(wins: DataFrame, m: Int = DefaultM,
      seeds: Int = DefaultSeeds,
      evalMod: Long = DefaultEvalMod): DataFrame = {
    val bits = wins.filter($("doc_id") % evalMod === 0)
      .select("fp").distinct()
      .select(explode(bitArray($("fp"), m, seeds)).as("bit"))
      .distinct()
    wins.filter($("doc_id") % evalMod =!= 0)
      .select($("doc_id"), $("fp")).distinct()
      .select($("doc_id"), $("fp"),
        explode(bitArray($("fp"), m, seeds)).as("bit"))
      .join(bits, Seq("bit"))
      .groupBy("doc_id", "fp")
      .agg(count(lit(1)).as("n_bits"))
      .where($("n_bits") === seeds)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_windows"))
  }

  def decontaminateRelational(documents: DataFrame, k: Int = 8,
      m: Int = DefaultM, seeds: Int = DefaultSeeds,
      evalMod: Long = DefaultEvalMod): DataFrame = {
    // the window stream feeds both legs — materialize once (the
    // Curation.decontaminate persist/localCheckpoint pattern; a
    // parquet intermediate at warehouse scale), result checkpointed
    // eagerly so the cache drops before returning
    val wins = SubstringDedup.windowOccurrences(documents, k)
      .select($("doc_id"), $("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result = flaggedFromWindows(wins, m, seeds, evalMod)
      .localCheckpoint(true)
    wins.unpersist(false)
    result
  }

  /** Estimator-vs-exact calibration (the q98 methodology applied to
    * the bloom): one row of (n_bloom_hits, n_exact_hits, fp_excess)
    * where hits are (train doc, window) pairs, exact = the true
    * shared-window join, and fp_excess = (bloom − exact) / bloom —
    * the measured false-positive share to hold against the
    * (1-e^(-seeds·n/m))^seeds sizing rule. Integer counts divided
    * once at the end (bit-identical across engines).
    */
  def calibration(documents: DataFrame, k: Int = 8, m: Int = DefaultM,
      seeds: Int = DefaultSeeds,
      evalMod: Long = DefaultEvalMod): DataFrame = {
    val wins = SubstringDedup.windowOccurrences(documents, k)
      .select($("doc_id"), $("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBloom = flaggedFromWindows(wins, m, seeds, evalMod)
      .agg(sum($("n_hit_windows")).cast("long").as("n_bloom_hits"))
    val evalFp = wins.filter($("doc_id") % evalMod === 0)
      .select("fp").distinct()
    val nExact = wins.filter($("doc_id") % evalMod =!= 0)
      .select($("doc_id"), $("fp")).distinct()
      .join(evalFp, Seq("fp"))
      .agg(count(lit(1)).as("n_exact_hits"))
    val result = nBloom.crossJoin(nExact)
      .select($("n_bloom_hits"), $("n_exact_hits"),
        (($("n_bloom_hits") - $("n_exact_hits")).cast("double") /
          $("n_bloom_hits").cast("double")).as("fp_excess"))
      .localCheckpoint(true)
    wins.unpersist(false)
    result
  }

  // ----------------------------------------------------------------
  // byte-array formulation (the broadcast production path)
  // ----------------------------------------------------------------

  /** Bit-array union aggregator: each partial is an m/8-byte array,
    * rows OR their bit in map-side, partials OR byte-wise in merge —
    * the shuffle carries one blob per partition, never the bit rows.
    */
  final class BloomBitsAgg(m: Int)
      extends Aggregator[Long, Array[Byte], Array[Byte]] {
    require(m % 8 == 0, "bloom size must be byte-aligned")
    override def zero: Array[Byte] = new Array[Byte](m / 8)
    override def reduce(buf: Array[Byte], bit: Long): Array[Byte] = {
      buf((bit / 8).toInt) = (buf((bit / 8).toInt) | (1 << (bit % 8).toInt)).toByte
      buf
    }
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { a(i) = (a(i) | b(i)).toByte; i += 1 }
      a
    }
    override def finish(buf: Array[Byte]): Array[Byte] = buf
    override def bufferEncoder: Encoder[Array[Byte]] = Encoders.BINARY
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build the filter from the eval docs' windows. The single m/8-byte
    * blob is localized to the driver for broadcast — the IVF-centroid
    * pattern ([[Similarity]]): a driver collect bounded by the filter
    * SIZE (a config constant), never by the data.
    */
  def buildFilter(documents: DataFrame, k: Int = 8, m: Int = DefaultM,
      seeds: Int = DefaultSeeds,
      evalMod: Long = DefaultEvalMod): Array[Byte] = {
    val spark = documents.sparkSession
    import spark.implicits._
    SubstringDedup.windowOccurrences(documents, k)
      .filter($("doc_id") % evalMod === 0)
      .select("fp").distinct()
      .select(explode(bitArray($("fp"), m, seeds)).as("bit"))
      .as[Long]
      .select(new BloomBitsAgg(m).toColumn)
      .head()
  }

  /** Probe side: flag training documents against a built filter —
    * (doc_id, n_hit_windows) for train docs with >= 1 hit, the
    * [[decontaminateRelational]] contract exactly (spec-pinned). Per
    * row: the distinct window fingerprints
    * ([[SubstringDedup.windowFpArray]] + `array_distinct`) map to
    * their bit indices through the same codegen'd expressions, and one
    * UDF counts the windows whose every bit is set in the broadcast
    * blob (see object doc for why no expression can do this). No
    * shuffle and no keyed state, so the same operator runs over
    * `readStream`: a filter built offline flags a training firehose
    * on arrival, in bounded memory — the property the bloom exists to
    * buy. Refreshing the filter (a new eval release) is a stream
    * restart with a new broadcast.
    */
  def decontaminateWithFilter(documents: DataFrame, filter: Array[Byte],
      k: Int = 8, m: Int = DefaultM, seeds: Int = DefaultSeeds,
      evalMod: Long = DefaultEvalMod): DataFrame = {
    require(filter.length == m / 8, "filter/m mismatch")
    val bc = documents.sparkSession.sparkContext.broadcast(filter)
    val hitCount = udf { fpBits: Seq[Seq[Long]] =>
      val a = bc.value
      fpBits.count(_.forall(b =>
        (a((b / 8).toInt) & (1 << (b % 8).toInt)) != 0)).toLong
    }
    documents.spread()
      .filter($("doc_id") % evalMod =!= 0)
      .select($("doc_id"),
        hitCount(transform(
          array_distinct(SubstringDedup.windowFpArray($("text"), k)),
          fp => bitArray(fp, m, seeds))).as("n_hit_windows"))
      .filter($("n_hit_windows") >= 1)
  }
}
