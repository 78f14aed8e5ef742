package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata,
  * partition-batched decode/feature-extraction, frame sampling.
  *
  * Design: media are `binary` columns with a `kind` tag and a metadata
  * struct; decode/feature steps run per-PARTITION over a typed Dataset
  * (iterator in → iterator out) so a real decoder would amortize its init
  * (codec/model load) once per task, exactly like mapInPandas batches do in
  * PySpark — that, not the codec, is the part that must be right at 100 TB:
  * binary columns stay columnar in parquet, never pass through a shuffle
  * unless keyed, and feature extraction is embarrassingly parallel.
  *
  * The codec itself is STUBBED (this container has no image/audio libs):
  * [[StubCodec.decodeFeatures]] computes a deterministic byte-histogram
  * "embedding" standing in for a real decode→embed. The stub is still
  * value-checkable end-to-end: the DuckDB oracle reproduces it from the
  * same bytes.
  */
object Multimodal {

  val FeatureDims = 8

  case class MediaRow(media_id: Long, kind: String, bytes: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           features: Array[Long])

  /** STUB standing in for a real codec (e.g. JPEG decode → CNN features).
    * Deterministic: feature d = count of payload bytes ≡ d (mod dims). */
  object StubCodec {
    def decodeFeatures(bytes: Array[Byte], dims: Int): Array[Long] = {
      val f = new Array[Long](dims)
      var i = 0
      while (i < bytes.length) {
        f(java.lang.Byte.toUnsignedInt(bytes(i)) % dims) += 1
        i += 1
      }
      f
    }
  }

  /** Documents → media table stand-in: payload = UTF-8 bytes of the text.
    * (In production this reads parquet with a real binary column; the
    * engine-side contract — schema + opaque bytes — is identical.) */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      // deterministic kind assignment across 3 modalities. pmod, not %:
      // Spark's % keeps the dividend's sign, so a negative id (hash-
      // derived ids are negative half the time) would yield index 0
      // (INVALID_INDEX_OF_ZERO at runtime) or -1 (silently the LAST
      // element)
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(length(col("text")).cast("long").as("n_chars"),
             col("lang").as("lang")).as("meta"))

  /** Partition-batched decode: one codec "init" per partition, then
    * iterator-streamed rows — the Spark-native shape for expensive per-row
    * native calls. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("bytes")).as[MediaRow]
      .mapPartitions { rows =>
        // real codec: load model/codec context here, once per task
        rows.map { r =>
          MediaFeatures(r.media_id, r.kind, r.bytes.length.toLong,
            StubCodec.decodeFeatures(r.bytes, FeatureDims))
        }
      }
  }

  /** Frame sampling plan: one row per sampled frame, no decode needed —
    * pure row expansion from metadata (duration ∝ payload size), pushed
    * down so the binary column is NOT carried through the explode. */
  def sampleFrames(media: DataFrame, bytesPerFrame: Int): DataFrame = {
    // 0 would ANSI-overflow on the cast (Infinity → long), negative
    // would silently clamp every item to 1
    require(bytesPerFrame > 0, s"bytesPerFrame must be positive: $bytesPerFrame")
    media
      .select(col("media_id"), col("kind"),
        greatest(lit(1), (length(col("bytes")) / bytesPerFrame).cast("long"))
          .as("n_frames"))
      .select(col("media_id"), col("kind"),
        explode(sequence(lit(0L), col("n_frames") - 1)).as("frame_idx"))
  }
}
