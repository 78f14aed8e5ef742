package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-stream forms of the near-dup operators: the exploded
  * (doc, shingle-hash) and (doc, pos, fingerprint) streams that the
  * in-row and per-doc-set operators of [[NearDup]] replaced. Each is the
  * reference a spec compares its live twin with, row for row and bit for
  * bit. Only specs use it.
  */
object NearDupReference {

  /** MinHash signatures, one row per (doc, hashIndex): min over the doc's
    * [[NearDup.shingleRows]] of affine rehash i, for i < numHashes. */
  def minhashRows(shingles: DataFrame, idCol: String,
                  numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(TextOps.affineHash(col("h"), lit(i))).as(s"mh$i"))
    val wide = shingles.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    wide.select(col(idCol), explode(array((0 until numHashes).map(i =>
        struct(lit(i).as("i"), col(s"mh$i").as("mh"))): _*)).as("x"))
      .select(col(idCol), col("x.i").as("i"), col("x.mh").as("mh"))
  }

  /** LSH banding: the k minhashes grouped into bands of `rowsPerBand`,
    * one "-"-joined signature string per (doc, band). */
  def lshBands(minhash: DataFrame, idCol: String,
               rowsPerBand: Int): DataFrame = {
    val slots = (0 until rowsPerBand).map(s =>
      max(when(col("slot") === s, col("mh"))).as(s"m$s"))
    minhash
      .withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .withColumn("slot", pmod(col("i"), lit(rowsPerBand)))
      .groupBy(col(idCol), col("band"))
      .agg(slots.head, slots.tail: _*)
      .select(col(idCol), col("band"),
        concat_ws("-", (0 until rowsPerBand).map(s =>
          col(s"m$s").cast("string")): _*).as("band_sig"))
  }

  /** Restrict a (doc, h) stream to pair docs and make it a set. */
  private def pairShingles(pairs: DataFrame, shinglesRaw: DataFrame,
                           idCol: String,
                           restrictToPairDocs: Boolean): DataFrame = {
    val restricted =
      if (!restrictToPairDocs) shinglesRaw
      else {
        val pairDocs = pairs.select(col("doc_a").as(idCol))
          .unionByName(pairs.select(col("doc_b").as(idCol))).distinct()
        shinglesRaw.join(pairDocs, Seq(idCol), "left_semi")
      }
    restricted.distinct()
  }

  private def simJoin(pairs: DataFrame, shinglesRaw: DataFrame,
                      idCol: String, restrictToPairDocs: Boolean)
      : DataFrame = {
    val shingles = pairShingles(pairs, shinglesRaw, idCol,
      restrictToPairDocs)
    val sizes = shingles.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    NearDup.simJoinCore(pairs, shingles, sizes, idCol)
  }

  /** Exact n-gram Jaccard for (doc_a, doc_b) pairs from (doc, h) rows. */
  def jaccard(pairs: DataFrame, shinglesRaw: DataFrame, idCol: String,
              restrictToPairDocs: Boolean = true): DataFrame =
    simJoin(pairs, shinglesRaw, idCol, restrictToPairDocs)
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))

  /** Containment |A∩B|/|A| and /|B| for pairs from (doc, h) rows. */
  def containment(pairs: DataFrame, shinglesRaw: DataFrame, idCol: String,
                  restrictToPairDocs: Boolean = true): DataFrame =
    simJoin(pairs, shinglesRaw, idCol, restrictToPairDocs)
      .withColumn("cont_a",
        col("inter").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b",
        col("inter").cast("double") / col("sz_b").cast("double"))

  /** SimHash by one groupBy over exploded tokens: per token-hash bit j,
    * sum ±1 over the doc's tokens; bit j is 1 iff the sum is positive. */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              bits: Int = 16): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("t"))
      .select(col(idCol), TextOps.polyHash(col("t")).as("h"))
    val bitSums = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** [[NearDup.simhashColumnFromTokens]] over a text column. */
  def simhashColumn(textCol: Column, bits: Int = 16): Column =
    NearDup.simhashColumnFromTokens(TextOps.tokens(textCol), bits)

  /** Hamming-near pairs on simhash signatures ≤ maxDist apart, by an
    * all-pairs crossJoin. */
  def simhashPairs(sigs: DataFrame, idCol: String,
                   maxDist: Int): DataFrame = {
    val l = sigs.select(col(idCol).as("doc_a"), col("simhash").as("sig_a"))
    val r = sigs.select(col(idCol).as("doc_b"), col("simhash").as("sig_b"))
    l.crossJoin(r).filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Winnowing fingerprints as a stream: (idCol, pos, h), one row per
    * selected fingerprint, distinct per doc. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    NearDup.winnowKeyed(docs, idCol, textCol, k, w)
      .select(col(idCol), explode(NearDup.winnowSelection(w)).as("__key"))
      .select(col(idCol),
        (lit(NearDup.WinnowP - 1) - col("__key.np")).cast("int").as("pos"),
        col("__key.h").as("h"))

  /** Doc pairs sharing ≥ `minShared` distinct fingerprint hashes, from a
    * [[winnowFingerprints]] stream. */
  def winnowOverlap(fps: DataFrame, idCol: String,
                    maxDocFreq: Int, minShared: Int): DataFrame =
    NearDup.winnowOverlapCore(fps.select(col(idCol), col("h")).distinct(),
      idCol, maxDocFreq, minShared)
}
