package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** Structured Streaming over the embeddings and media tables: the
  * firehose side of the similarity pillar. An embedding producer
  * (encoder service) streams vectors; the pipeline compresses them to
  * PQ codes ON ARRIVAL with the codebook trained offline by the batch
  * tier — codes land in the serving store, raw vectors can be
  * archived cold.
  *
  * The [[DocStreams]] rule holds here too: a batch operator that runs
  * over `readStream` unchanged has no copy in this object. The media
  * path is such an operator — decode, features and perceptual hashes
  * are narrow maps with no keyed state, so
  * [[graft.operators.Multimodal.extractFeatures]] and
  * [[graft.operators.Multimodal.imageDHashes]] run directly on
  * [[readMedia]]. What stays is what ships a model as literals: the
  * PQ/SQ/centroid encoders (the batch forms read their models from
  * tables) and [[semanticGateFlags]].
  *
  * Same twin discipline as [[DocStreams]]: streaming output over a
  * static input equals the oracle-gated batch operator
  * (StreamingSpec pins `pqCodes` == q117's codes).
  */
object EmbStreams {

  /** The embeddings schema as readStream needs it declared. */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-based stream source over a parquet directory. */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(embSchema).parquet(dir)

  /** The media-asset schema as readStream needs it declared —
    * [[graft.operators.Multimodal.MediaRow]]'s parquet shape (bytes
    * BINARY, typed metadata struct).
    */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("modality", StringType),
    StructField("bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("durationMs", LongType),
      StructField("sampleRate", IntegerType))))))

  /** File-based stream source over a parquet media-asset directory. */
  def readMedia(spark: SparkSession,
      dir: String): Dataset[graft.operators.Multimodal.MediaRow] = {
    import spark.implicits._
    spark.readStream.schema(mediaSchema).parquet(dir)
      .as[graft.operators.Multimodal.MediaRow]
  }

  /** Streaming PQ encoding: (vec_id, codes) per arriving vector,
    * against the OFFLINE-trained codebook
    * ([[Similarity.pqCodebookLocal]] — the model artifact, shipped
    * like the bloom filter blob). STATELESS like
    * [[graft.operators.BloomDecontam.decontaminateWithFilter]]:
    * [[Similarity.pqAssignExpr]] is a pure per-row expression chain
    * (least-over-structs argmin, no join/window/UDF), so there is no
    * state store and a codebook refresh is a stream restart with the
    * new literal. Vectors of the wrong width are dropped —
    * [[Similarity.vectorHealth]] is the batch preflight that counts
    * them.
    */
  def pqCodes(emb: DataFrame, codebook: Seq[(Int, Long, Seq[Long])],
      m: Int = 4, dim: Int = 64): DataFrame =
    emb.filter(size(col("embedding")) === dim)
      .select(col("vec_id"),
        Similarity.pqAssignExpr(col("embedding"), codebook, m, dim)
          .as("codes"))

  /** Streaming SQ8 encoding: (vec_id, codes) per arriving vector
    * against OFFLINE-trained per-dim extrema
    * ([[Similarity.sqStatsLocal]] — 2·dims longs riding as literals,
    * the [[pqCodes]] model-ships-with-the-stream discipline).
    * Stateless: [[Similarity.sqCodesExpr]] is one
    * subtract-scale-floor per element — the cheapest online encoder
    * in the family (no argmin at all); a stats refresh is a stream
    * restart with the new literals. StreamingSpec pins codes ==
    * the batch [[Similarity.sqEncodeFrom]] under the same stats.
    */
  def sqCodes(emb: DataFrame, vmin: Seq[Long], vmax: Seq[Long],
      dim: Int = 64): DataFrame =
    emb.filter(size(col("embedding")) === dim)
      .select(col("vec_id"),
        Similarity.sqCodesExpr(col("embedding"), vmin, vmax).as("codes"))

  /** Streaming SEMANTIC INGEST GATE — the live twin of
    * [[Similarity.semanticIngestGate]] (q193): each arriving vector
    * probes its `nprobe` nearest cells as a PURE EXPRESSION against
    * the centroid LITERALS (the [[pqCodes]] codebook discipline —
    * the model ships with the stream, a refresh is a restart), then a
    * STREAM-STATIC join against the cell-pruned store scores exact
    * quantized cosine, and the per-vector best witness folds through
    * a max_by aggregate. Emits (vec_id, nn_id, cell, cos) for
    * flagged vectors — the complement is the admitted set, exactly
    * the batch gate's contract (StreamingSpec pins equality).
    *
    * State: one aggregate row per FLAGGED streamed vector (each
    * vector's rows arrive within its micro-batch, but the engine
    * cannot know that — the same per-seen-key floor as
    * [[DocStreams]]' exact dedup; bound it upstream with a TTL if
    * the firehose is unbounded). The store side is static and
    * re-read per micro-batch — at warehouse scale, partition the
    * cell store by `cell` so the join prunes.
    */
  def semanticGateFlags(emb: DataFrame,
      centroids: Seq[(Long, Seq[Long], Double)], cells: DataFrame,
      store: DataFrame, threshold: Double = 0.35, nprobe: Int = 2,
      dim: Int = 64): DataFrame = {
    require(centroids.nonEmpty, "empty centroid model")
    val corpus = cells.select(col("vec_id").as("nn_id"), col("cell"))
      .join(store.select(col("vec_id").as("nn_id"),
        Similarity.quantize(col("embedding")).as("ce")), Seq("nn_id"))
      .withColumn("cn", Similarity.qnorm(col("ce")))
    // top-nprobe cells as one expression: sort (−cos, c_id) structs —
    // ascending = cos desc, c_id asc, the batch assignCells tie rule
    val cands = centroids.map { case (cid, cv, cnrm) =>
      struct((-(Similarity.qdot(col("qv"), typedlit(cv)).cast("double") /
        (col("qn") * lit(cnrm)))).as("negcos"), lit(cid).as("c_id"))
    }
    emb.filter(size(col("embedding")) === dim)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("qn", Similarity.qnorm(col("qv")))
      .select(col("vec_id"), col("qv"), col("qn"),
        explode(slice(array_sort(array(cands: _*)), 1, nprobe))
          .as("probe"))
      .select(col("vec_id"), col("qv"), col("qn"),
        col("probe").getField("c_id").as("cell"))
      .join(corpus, Seq("cell"))
      .select(col("vec_id"), col("nn_id"), col("cell"),
        (Similarity.qdot(col("qv"), col("ce")).cast("double") /
          (col("qn") * col("cn"))).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("nn_id"), col("cell"), col("cos")),
        struct(col("cos"), -col("nn_id"))).as("b"))
      .select(col("vec_id"), col("b.nn_id").as("nn_id"),
        col("b.cell").as("cell"), col("b.cos").as("cos"))
  }

  /** Streaming nearest-centroid classification: a pred label per
    * arriving vector against the OFFLINE-trained label centroids
    * ([[Similarity.centroidModelLocal]] — shipped as literals like
    * the PQ codebook). STATELESS pure expression, so a model refresh
    * is a stream restart; wrong-width vectors drop. The online-
    * inference half of the q158 classifier: route/score embeddings
    * at ingest by reference-class proximity.
    *
    * Twin contract (StreamingSpec): (vec_id, pred_label) equals the
    * batch classifier's assignment for every streamed vector.
    */
  def centroidLabels(emb: DataFrame,
      centroids: Seq[(Long, Seq[Long])], dim: Int = 64): DataFrame =
    emb.filter(size(col("embedding")) === dim)
      .select(col("vec_id"),
        Similarity.centroidAssignExpr(col("embedding"), centroids)
          .as("pred_label"))
}
