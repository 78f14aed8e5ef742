package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class MultimodalSpec extends SparkSpecBase {
  import spark.implicits._

  test("binary payloads round-trip through parquet and decode batched") {
    val media = Multimodal.mediaFromDocuments(
      spark.read.parquet(s"$sf/documents.parquet"))
    assert(media.schema("bytes").dataType.typeName == "binary")
    val out = java.nio.file.Files.createTempDirectory("media").toString
    media.write.mode("overwrite").parquet(out)
    val feats = Multimodal.extractFeatures(spark.read.parquet(out))
    val row = feats.filter($"media_id" === 0).head()
    // features histogram must sum to payload size
    assert(row.features.sum == row.n_bytes)
    assert(row.features.length == Multimodal.FeatureDims)
  }

  test("decode stub is deterministic across partitionings") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs).repartition(2))
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    val b = Multimodal.extractFeatures(
      Multimodal.mediaFromDocuments(docs).repartition(13))
      .collect().map(f => f.media_id -> f.features.toSeq).toMap
    assert(a == b)
  }

  test("kind assignment survives negative ids (pmod, not %)") {
    import spark.implicits._
    // hash-derived doc_ids are negative half the time; % would index 0
    // (runtime error) or -1 (silently the last element)
    val docs = Seq((-1L, "a", "en"), (-2L, "b", "en"), (-3L, "c", "en"),
      (0L, "d", "en"))
      .toDF("doc_id", "text", "lang")
    val kinds = Multimodal.mediaFromDocuments(docs)
      .select("media_id", "kind").as[(Long, String)].collect().toMap
    assert(kinds.values.forall(Set("image", "audio", "video")), kinds)
    // pmod(-1,3)=2 → video; pmod(-2,3)=1 → audio; pmod(-3,3)=0 → image
    assert(kinds == Map(-1L -> "video", -2L -> "audio", -3L -> "image",
      0L -> "image"), kinds)
  }

  test("frame sampling expands per media without carrying bytes") {
    val media = Multimodal.mediaFromDocuments(
      Seq((1L, "x" * 350, "en", "s", 350L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val frames = Multimodal.sampleFrames(media, 100)
    assert(frames.count() == 3)
    assert(!frames.columns.contains("bytes"))
  }
}
