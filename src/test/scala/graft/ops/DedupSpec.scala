package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase {

  test("firstRowPerGroup keeps exactly the deterministic first row") {
    import spark.implicits._
    val df = Seq(
      ("a", 2, "x"), ("a", 1, "y"), ("b", 5, "z"), ("b", 5, "w")
    ).toDF("k", "ord", "payload")
    val got = Dedup.firstRowPerGroup(df, Seq(col("k")),
      Seq(col("ord").asc, col("payload").asc))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(got.toSeq == Seq(("a", "y"), ("b", "w")))
  }

  test("left_anti equals NOT IN only for non-null keys (documented risk 3)") {
    import spark.implicits._
    val left = Seq(Option("a"), Option("b"), None).toDF("key")
    val right = Seq(Option("a"), None).toDF("key")
    // left_anti keeps 'b' AND the null row; SQL NOT IN would return zero
    // rows when the subquery contains a NULL. Keys in the engine's id maps
    // are non-null, where the two coincide.
    val anti = left.join(right, Seq("key"), "left_anti").count()
    assert(anti == 2)
    left.createOrReplaceTempView("dedup_spec_l")
    right.createOrReplaceTempView("dedup_spec_r")
    val notIn = spark.sql(
      "SELECT count(*) FROM dedup_spec_l " +
        "WHERE key NOT IN (SELECT key FROM dedup_spec_r)").head().getLong(0)
    assert(notIn == 0)
  }

  test("prefixDedup groups by token prefix, keeps the smallest id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h TAIL-ONE x y"),
      (2L, "a b c d e f g h TAIL-TWO z"),   // same 8-token prefix as 1
      (3L, "a b c d e f g DIFFERENT h"),    // diverges at token 8
      (4L, "short doc"))                    // < 8 tokens: whole-text prefix
      .toDF("doc_id", "text")
    val got = Dedup.prefixDedup(docs, "doc_id", "text", 8)
      .select("doc_id", "group_n", "rep", "is_kept")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got(1L) == ((2L, 1L, true)))
    assert(got(2L) == ((2L, 1L, false)))
    assert(got(3L) == ((1L, 3L, true)))
    assert(got(4L) == ((1L, 4L, true)))
  }
}
