package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpecBase
import graft.ops.{NearDup, TextOps}

/** The ingest-time enrichment contract: every per-row operator — quality
  * features, markup strip, minhash signature, simhash — is a pure Column
  * expression, so the SAME select() runs unchanged on a micro-batch
  * stream, and (because none of them aggregate) the streamed values are
  * bit-identical to running the batch tier over the same rows. This is
  * what lets a 100 TB pipeline score/sign documents at ingest and reserve
  * shuffling aggregations for the batch tier.
  */
class IngestEnrichSpec extends SparkSpecBase {

  private def enrich(df: org.apache.spark.sql.DataFrame) =
    df.select(col("doc_id"),
      TextOps.stripMarkup(col("text")).as("clean"),
      col("text"))
      .select(col("doc_id"),
        col("clean"),
        TextOps.qualityFeatures(col("clean")).as("q"),
        NearDup.signatureColumn(col("clean"), n = 3, numHashes = 8)
          .as("minhash_sig"),
        NearDup.simhashColumnFromTokens(TextOps.tokens(col("clean")), bits = 16)
          .as("simhash"))
      .select(col("doc_id"), col("clean"),
        col("q.n_tokens").as("n_tokens"),
        col("q.punct_ratio").as("punct_ratio"),
        col("minhash_sig"), col("simhash"))

  test("streamed enrichment is bit-identical to the batch select") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "<p>alpha bravo charlie delta echo</p><!-- hidden -->"),
      (2L, "plain prose with several ordinary words here"),
      (3L, "<script>x</script>short &amp; tagged"),
      (4L, ""))
    val mem = MemoryStream[(Long, String)]
    val q = enrich(mem.toDF.toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("enrich_sink")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches — values must not depend on batch boundaries
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("enrich_sink")
      val batch = enrich(rows.toDF("doc_id", "text"))
      assert(streamed.count() == 4)
      assert(streamed.except(batch).count() == 0)
      assert(batch.except(streamed).count() == 0)
    } finally q.stop()
  }
}
