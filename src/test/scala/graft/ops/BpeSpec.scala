package graft.ops

import graft.SparkSpecBase

class BpeSpec extends SparkSpecBase {
  import spark.implicits._

  test("train learns the classic fixture's exact merge sequence") {
    // word frequencies: low×5, lower×2, newest×6, widest×3
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq(text).toDF("text")
    // hand-derived: (e,s)=9 beats (s,t)=9 on left-asc tiebreak; after
    // es, (es,t)=9; then (l,o)=7 beats (o,w)=7; after lo, (lo,w)=7
    assert(Bpe.train(docs, "text", 4) == Seq(
      Bpe.Merge(1, "e", "s", 9),
      Bpe.Merge(2, "es", "t", 9),
      Bpe.Merge(3, "l", "o", 7),
      Bpe.Merge(4, "lo", "w", 7)))
  }

  test("merge application is left-to-right non-overlapping") {
    // "aaa" under (a,a): [a,a,a] -> [aa,a], never [a,aa] or a chain
    val docs = Seq("aaa aaa").toDF("text")
    assert(Bpe.train(docs, "text", 2) == Seq(
      Bpe.Merge(1, "a", "a", 4),
      Bpe.Merge(2, "aa", "a", 2)))
  }

  test("training stops early when no pairs remain") {
    val docs = Seq("ab ab cd").toDF("text")
    val m = Bpe.train(docs, "text", 10)
    // ab (2) then cd (1) exhausts every multi-symbol word
    assert(m == Seq(Bpe.Merge(1, "a", "b", 2), Bpe.Merge(2, "c", "d", 1)))
  }

  test("training is partitioning-invariant") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val a = Bpe.train(docs, "text", 3)
    val b = Bpe.train(docs.repartition(13), "text", 3)
    assert(a == b)
    assert(a.size == 3)
  }

  test("encode applies merges in rank order: fixture segmentations") {
    val trainText = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val merges = Bpe.train(Seq(trainText).toDF("text"), "text", 4)
    // merges: es, est, lo, low — so:
    //   "lowest" → low|est (2), "newest" → n|e|w|est (4), "low" → low (1)
    val docs = Seq((1L, "lowest"), (2L, "newest"), (3L, "low low"))
      .toDF("doc_id", "text")
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got(1L) == ((1L, 2L)), got.toString)
    assert(got(2L) == ((1L, 4L)))
    assert(got(3L) == ((2L, 2L)))
  }

  test("encode with no merges counts characters") {
    val docs = Seq((1L, "abc de")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, "doc_id", "text", Nil).head()
    assert(got.getLong(1) == 2L && got.getLong(2) == 5L)
  }
}
