package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §2B): image/audio/video as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * resize / frame-sample operators.
  *
  * The Spark-side plumbing — schemas, partitioning, batch shape — is real
  * and tested; the actual codec work is STUBBED with deterministic
  * byte-derived fakes (this container has no image/audio libraries), each
  * clearly marked. Swapping a stub for a real decoder keeps every
  * signature and plan shape intact.
  *
  * Scale design notes:
  *  - binary payloads are projected away before any shuffle (`meta`-only
  *    frames join/aggregate; payloads re-join by id only when needed);
  *  - per-partition batch processing mirrors batched model inference
  *    (`mapPartitions` with fixed-size batches — the Scala analog of
  *    `mapInPandas`);
  *  - `media_id`-hash partitioning spreads large blobs evenly.
  */
object Multimodal {

  /** Deterministic fake media derived from any string column — gives
    * tests a binary payload without bundling fixtures. (Not a stub of
    * anything: test scaffolding.)
    */
  def syntheticMedia(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol).cast("long"), lit(3)) + 1).cast("int")).as("kind"),
      unbase64(base64(concat(col(textCol), md5(col(textCol).cast("binary"))).cast("binary"))).as("bytes"))

  /** STUB — decode image header metadata from bytes.
    *
    * Real implementation would parse the codec header (JPEG/PNG/...).
    * The stub derives deterministic plausible dimensions from a byte
    * hash so downstream plumbing (schema, null handling, filters) is
    * exercised honestly. Signature and output schema are final.
    */
  def decodeMetaStub(bytes: Column): Column = {
    val h = xxhash64(bytes)
    struct(
      (pmod(h, lit(1920)) + 1).cast("int").as("width"),
      (pmod(h, lit(1080)) + 1).cast("int").as("height"),
      lit(3).cast("int").as("channels"))
  }

  /** Attach decoded metadata; binary column preserved but untouched. */
  def withDecodedMeta(media: DataFrame): DataFrame =
    media.withColumn("meta", decodeMetaStub(col("bytes")))

  /** STUB — fixed-dim feature vector per media item via per-partition
    * BATCHED processing (the inference-shaped path: a real model would
    * consume each `batch` at once on an accelerator). Deterministic
    * byte-derived features stand in for embeddings; batch shape,
    * iterator discipline (no materializing the partition), and output
    * schema are the real contract.
    */
  def extractFeaturesStub(media: DataFrame, dim: Int, batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out = media.select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // STUB: real code runs the model on `batch` here.
          batch.iterator.map { case (id, bytes) =>
            val seed = java.util.Arrays.hashCode(bytes)
            val feats = Array.tabulate(dim) { i =>
              // deterministic pseudo-features in [-1, 1)
              val x = (seed * 31L + i) * 0x9E3779B97F4A7C15L
              (x >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
            }
            (id, feats)
          }
        }
      }
      .toDF("media_id", "features")
    media.join(out, "media_id")
  }

  /** Resize plan: computes target dims keeping aspect ratio (pure
    * metadata arithmetic — real resize happens where the bytes are
    * decoded; the plan column drives it). Codegen'd, no stub needed.
    */
  def withResizePlan(mediaWithMeta: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale0 = least(lit(maxSide) / greatest(w, h), lit(1.0))
    mediaWithMeta
      .withColumn("resize_w", ceil(w * scale0).cast("int"))
      .withColumn("resize_h", ceil(h * scale0).cast("int"))
  }

  /** Frame sampling for video rows: explode `n` evenly-spaced frame
    * indices per item (metadata-level; the decode of each sampled frame
    * is the stubbed step at real scale). Non-video rows pass through
    * with a single frame 0.
    */
  def frameSample(media: DataFrame, n: Int, totalFramesCol: Column): DataFrame =
    media.withColumn("frame_idx",
      explode(
        when(col("kind") === "video",
          transform(sequence(lit(0), lit(n - 1)),
            i => (i * totalFramesCol / n).cast("int")))
          .otherwise(array(lit(0)))))
}
