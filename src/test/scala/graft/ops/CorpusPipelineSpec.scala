package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class CorpusPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  test("near-dup stage removes planted duplicates, keeps the smallest id") {
    val base = docs.filter(col("doc_id") < 50)
    // plant: doc_id+100000 with identical text (exact dup), doc_id+200000
    // with one token appended (near dup)
    val exactDups = base.select((col("doc_id") + 100000).as("doc_id"),
      col("text"), col("lang"), col("source"), col("n_chars"))
    val nearDups = base.select((col("doc_id") + 200000).as("doc_id"),
      concat(col("text"), lit(" trailingtoken")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    val corpus = base.unionByName(exactDups).unionByName(nearDups)
    val result = CorpusPipeline.appendDocs(corpus.limit(0), corpus,
      CorpusPipeline.Config(minTokens = 0, maxPunctRatio = 1.0,
        jaccardMin = 0.5))
    val ids = result.select("doc_id").as[Long].collect().toSet
    // originals survive; all planted ids are gone
    assert(ids.nonEmpty)
    assert(ids.forall(_ < 100000), s"planted dup survived: ${ids.filter(_ >= 100000)}")
  }

  test("append drops increment rows duplicating the corpus or the batch") {
    import org.apache.spark.sql.functions._
    // deterministic id-range selections (limit() without order would
    // pick different rows on each plan reference)
    val existing = docs.filter(col("doc_id") < 40)
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    // increment: exact dups of existing, near dups of existing,
    // an intra-batch dup pair, and fresh docs
    val exactOfExisting = existing.filter(col("doc_id") < 10)
      .select((col("doc_id") + 500000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val nearOfExisting = existing.filter(col("doc_id") < 10)
      .select((col("doc_id") + 600000).as("doc_id"),
        concat(col("text"), lit(" tailtoken")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val fresh = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .select((col("doc_id") + 700000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val batchDup = fresh.filter(col("doc_id") < 700105)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val incoming = exactOfExisting.unionByName(nearOfExisting)
      .unionByName(fresh).unionByName(batchDup).select(cols.map(col): _*)

    val result = CorpusPipeline.appendDocs(
      existing.select(cols.map(col): _*), incoming,
      CorpusPipeline.Config(minTokens = 0, maxPunctRatio = 1.0,
        jaccardMin = 0.5))
    val ids = result.select("doc_id").as[Long].collect().toSet
    assert(incoming.count() == 45)
    // all exact/near dups of the corpus are gone
    assert(!ids.exists(id => id >= 500000 && id < 700000),
      s"corpus dup survived: ${ids.filter(id => id >= 500000 && id < 700000)}")
    // fresh docs survive once: 20 fresh, their 5 batch-dups dropped
    assert(ids.count(_ >= 700000) == 20, s"got ${ids.count(_ >= 700000)}")
    assert(ids.size == 20)
  }

  test("pipeline is deterministic across partitionings") {
    val cfg = CorpusPipeline.Config(sampleFractions = Map("en" -> 0.4))
    def survivors(in: org.apache.spark.sql.DataFrame) =
      CorpusPipeline.appendDocs(in.limit(0), in, cfg)
        .select("doc_id").as[Long].collect().toSet
    assert(survivors(docs) == survivors(docs.repartition(13)))
  }
}
