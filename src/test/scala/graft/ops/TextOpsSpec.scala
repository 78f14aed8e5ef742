package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class TextOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, v: String): Any =
    Seq(Option(v)).toDF("text").select(c.as("r")).head().get(0)

  /** Interpreted lambda form of [[TextOps.polyHash]]'s fold. */
  private def polyHashLambda(c: Column): Column =
    aggregate(
      filter(split(c, ""), ch => ch =!= ""),
      lit(0L),
      (h, ch) => (h * 31 + ascii(ch)) % TextOps.HashMod)

  /** [[TextOps.langGuess]]'s scoring with interpreted HOFs in place of
    * the native count_in expression. */
  private def langGuessLambda(text: Column): Column = {
    val tk = TextOps.tokens(text)
    val scored = TextOps.LangMarkers.map { case (lang, markers) =>
      struct(size(filter(tk, t => t.isin(markers.map(lit): _*))).as("score"),
             lit(lang).as("lang"))
    }
    val best = scored.reduceLeft((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    best.getField("lang")
  }

  test("tokens handles empty, blank, and multi-space text") {
    assert(one(TextOps.tokenCount(col("text")), "a  b\tc") == 3)
    assert(one(TextOps.tokenCount(col("text")), "") == 0)
    assert(one(TextOps.tokenCount(col("text")), "   ") == 0)
    assert(one(TextOps.tokenCount(col("text")), "one") == 1)
  }

  test("polyHash is deterministic and matches a reference fold") {
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % TextOps.HashMod)
    for (s <- Seq("hello world", "", "a", "the quick brown fox"))
      assert(one(TextOps.polyHash(col("text")), s) == ref(s), s"for '$s'")
  }

  test("native poly_hash expression equals the lambda form on the corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val mismatches = docs.select(
      TextOps.polyHash(col("text")).as("native"),
      polyHashLambda(col("text")).as("lambda"))
      .filter(col("native") =!= col("lambda")).count()
    assert(mismatches == 0)
    // unicode: multi-byte codepoints fold identically
    assert(one(TextOps.polyHash(col("text")), "héllo 你好") ==
      one(polyHashLambda(col("text")), "héllo 你好"))
  }

  test("poly_hash is callable from SQL and participates in codegen") {
    import spark.implicits._
    val df = Seq("abc").toDF("text")
    df.createOrReplaceTempView("polyhash_spec")
    assert(spark.sql("SELECT poly_hash(text) AS h FROM polyhash_spec")
      .head().getLong(0) == one(polyHashLambda(col("text")), "abc"))
    // a parquet-backed scan (not a constant-foldable local relation) must
    // evaluate poly_hash inside a WholeStageCodegen span
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    val plan = spark.read.parquet(s"$sf/documents.parquet")
      .select(TextOps.polyHash(col("text")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1)") && plan.contains("poly_hash"), plan)
  }

  test("qualityFeatures ratios are 0-guarded") {
    val f = Seq("").toDF("text")
      .select(TextOps.qualityFeatures(col("text")).as("f"))
      .select("f.*").head()
    assert(f.getAs[Double]("stopword_ratio") == 0.0)
    assert(f.getAs[Double]("punct_ratio") == 0.0)
  }

  test("langGuess picks the language with most marker hits, ties → first") {
    assert(one(TextOps.langGuess(col("text")), "the cat of the house") == "en")
    assert(one(TextOps.langGuess(col("text")), "der hund und die katze") == "de")
    // no markers at all → all scores 0 → first in list (de)
    assert(one(TextOps.langGuess(col("text")), "xyzzy plugh") == "de")
  }

  test("native count_in langGuess == lambda fold == relational join form") {
    val lambda = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"),
        langGuessLambda(col("text")).as("lang_guess"))
      .groupBy("lang", "lang_guess").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val native = graft.queries.TextQueries.qLangId(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val relational = graft.queries.TextQueries
      .qLangIdRelational(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(native == lambda)
    assert(relational == lambda)
  }

  test("count_in counts repeated hits and ignores null-safe misses") {
    import spark.implicits._
    val got = Seq("the cat the dog xyz", "", "THE the").toDF("text")
      .select(call_function("count_in", TextOps.tokens(col("text")),
        array(lit("the"), lit("dog"))).as("c"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(3, 0, 1)) // case-sensitive, repeats counted
  }

  test("chunkRows edges: empty doc, doc shorter than a chunk, overlap") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "a b"), (3L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val got = TextOps.chunkRows(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .select("doc_id", "chunk_idx", "n_tokens")
      .as[(Long, Int, Long)].collect().toSet
    assert(got == Set(
      (1L, 0, 0L),            // empty doc: one empty chunk
      (2L, 0, 2L),            // short doc: one short chunk
      (3L, 0, 4L), (3L, 1, 4L), (3L, 2, 1L))) // starts 0,3,6 over 7 toks
    // overlap: token 4 (index 3) appears in chunks 0 and 1
    val ex = intercept[IllegalArgumentException] {
      TextOps.chunkRows(docs, "doc_id", "text", 0, 3)
    }
    assert(ex.getMessage.contains(">= 1"))
  }

  test("tfidf ranks by score then term; rank never exceeds k") {
    import spark.implicits._
    // 'rare' appears once in doc 1 only (high idf); 'common' everywhere
    val docs = Seq(
      (1L, "common rare common"), (2L, "common common"),
      (3L, "common zed")).toDF("doc_id", "text")
    val got = TextOps.tfidfTopTerms(docs, "doc_id", "text", 2)
      .select("doc_id", "term", "rank")
      .as[(Long, String, Int)].collect()
    assert(got.forall(_._3 <= 2))
    val d1 = got.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq
    // doc 1: rare (tf 1, df 1) outranks common (tf 2, df 3):
    // 1·1000·3/1 = 3000 > 2·1000·3/3 = 2000
    assert(d1 == Seq("rare", "common"), d1.toString)
  }

  test("accent_fold is SQL-callable through the extension registry") {
    val r = spark.sql("SELECT accent_fold('Ångström—café') AS f")
      .head().getString(0)
    assert(r == "Angstrom—cafe") // marks stripped; the em-dash (not a
                                 // combining mark) survives
  }

  test("accent_fold strips marks, keeps base letters, ASCII unchanged") {
    def f(s: String) = one(call_function("accent_fold", col("text")), s)
    assert(f("Café Ångström naïve") == "Cafe Angstrom naive")
    assert(f("héllo wörld") == "hello world")
    val ascii = "plain ascii stays identical 123 !@#"
    assert(f(ascii) == ascii)
    assert(f("") == "")
    assert(one(call_function("accent_fold", col("text")), null) == null)
  }

  test("normalizeText folds accents, case, and whitespace runs") {
    def n(s: String) = one(TextOps.normalizeText(col("text")), s)
    assert(n("  Café  au\t\nLAIT ") == "cafe au lait")
    assert(n("already normal") == "already normal")
    assert(n("   ") == "")
    // normalized forms collide exactly where a dedup pass needs them to
    assert(n("Café  au lait") == n("cafe au\tLait"))
  }

  test("redactPii tags emails and IPs before digit runs, in that order") {
    def r(s: String) = one(TextOps.redactPii(col("text"), 4), s)
    assert(r("mail bob.smith+x@corp.example.org now")
      == "mail <EMAIL> now")
    assert(r("from 192.168.100.200 port 8080")
      == "from <IP> port <NUM>")
    assert(r("card 4111111111111111 pin 123")
      == "card <NUM> pin 123") // 3 digits below minDigits → kept
    assert(r("a@b.co at 10.0.0.1 acct 99999")
      == "<EMAIL> at <IP> acct <NUM>")
    assert(r("clean text") == "clean text")
  }

  test("bigramStrings preserves order; short docs → empty array") {
    def b(s: String) =
      one(TextOps.bigramsFromTokens(TextOps.tokens(col("text"))), s)
      .asInstanceOf[scala.collection.Seq[String]].toSeq
    assert(b("a b c d") == Seq("a b", "b c", "c d"))
    assert(b("solo") == Seq.empty)
    assert(b("") == Seq.empty)
    assert(b("  x   y  ") == Seq("x y"))
  }

  test("invertedPostings: exact df/tf, sample bounded and sorted") {
    import spark.implicits._
    val docs = Seq(
      (10L, "x x y"), (20L, "x z"), (30L, "x"), (40L, "x"),
      (50L, "x"), (60L, "x"), (70L, "x y")).toDF("doc_id", "text")
    for (parts <- Seq(1, 5)) {
      val got = TextOps.invertedPostings(docs.repartition(parts),
          "doc_id", "text", sampleK = 5)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toSeq)).sortBy(_._1)
      assert(got.map(g => (g._1, g._2, g._3)).toSeq ==
        Seq(("x", 7L, 8L), ("y", 2L, 2L), ("z", 1L, 1L)))
      val xs = got.find(_._1 == "x").get._4
      assert(xs == Seq(10L, 20L, 30L, 40L, 50L), // first 5 ids, sorted
        s"parts=$parts sample $xs")
    }
  }

  test("stripMarkup: script blocks, tags, entity decode order, spacing") {
    import spark.implicits._
    val got = Seq(
      // &amp;lt; must decode to the LITERAL "&lt;", not double-decode
      "<html><script>if(x<y){}</script><p>a &amp;lt; b &#39;q&#39;</p>" +
        "<style>p { color: red }</style></html>",
      "plain   text\n unchanged",
      "<div><b>bold</b>&quot;quoted&quot; &gt;&lt;</div>")
      .toDF("t").select(TextOps.stripMarkup(col("t")).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq("a &lt; b 'q'", "plain text unchanged",
      "bold \"quoted\" ><")) // tags become spaces, then collapse
  }

  test("stripMarkup: comments with '>' inside leave no residue") {
    import spark.implicits._
    val got = Seq(
      // `<[^>]+>` alone stops at the first '>': "<!-- ads >" would match,
      // leaking " popups -->" into the text
      "<!-- ads > popups --><p>hi</p>",
      // multi-line comment ((?s) makes . span newlines)
      "<div>a</div><!-- line1\nline2 -->b",
      // '>' inside an attribute value still strips as a tag boundary —
      // accepted regex-tier limit, but the common comment case is clean
      "x <!--c1--> y <!--c2--> z")
      .toDF("t").select(TextOps.stripMarkup(col("t")).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq("hi", "a b", "x y z"))
  }

  test("packManifest: straddling docs split into contiguous exact slices") {
    import spark.implicits._
    def words(n: Int) = Seq.fill(n)("t").mkString(" ")
    // shard x, packSize 10: doc1 n=4 (g=0), doc2 n=8 (g=4, straddles
    // packs 0/1), doc3 n=12 (g=12, straddles 1/2); doc4 empty → no rows
    val docs = Seq((1L, "x", words(4)), (2L, "x", words(8)),
      (3L, "x", words(12)), (4L, "x", ""))
      .toDF("doc_id", "lang", "text")
    val got = TextOps.packManifest(docs, "doc_id", "lang", "text", 10)
      .select("doc_id", "pack_id", "slice_start", "slice_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (1L, 0L, 0L, 4L),
      (2L, 0L, 0L, 6L), (2L, 1L, 6L, 2L),
      (3L, 1L, 0L, 8L), (3L, 2L, 8L, 4L)), s"$got")
    // corpus-level invariants: per-doc slices cover exactly n_tokens,
    // and every pack except each shard's last is filled to packSize
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val m = TextOps.packManifest(corpus, "doc_id", "lang", "text", 512)
      .persist()
    val perDoc = m.groupBy("doc_id").agg(sum("slice_len").as("tot"))
      .join(corpus.select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n")), "doc_id")
    assert(perDoc.filter(col("tot") =!= col("n")).count() == 0)
    val lastPack = m.groupBy("lang").agg(max("pack_id").as("last"))
    val packFill = m.groupBy("lang", "pack_id")
      .agg(sum("slice_len").as("fill"))
      .join(lastPack, "lang")
      .filter(col("pack_id") =!= col("last"))
    assert(packFill.filter(col("fill") =!= 512).count() == 0)
    m.unpersist()
  }

  test("bigram log-prob score: hand-computed, short docs absent") {
    import spark.implicits._
    // unigram model counts EVERY doc's tokens (including bigram-less
    // doc 3): uc = {a:3, b:3, solo:1}, total 7; bc = {(a,b):2, (b,a):2}
    // p(a→b) = .75·(2/3) + .25·(3/7) = 0.6071428571428571 = p(b→a)
    // ln → -0.498991166 (round9) → avg → round6
    val docs = Seq((1L, "a b a b"), (2L, "b a"), (3L, "solo"))
      .toDF("doc_id", "text")
    for (parts <- Seq(1, 3)) {
      val got = TextOps.bigramLogProbScore(docs.repartition(parts),
          "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got.keySet == Set(1L, 2L)) // doc 3 has no bigrams
      assert(got(1L) == (3L, -0.498991), s"$got")
      assert(got(2L) == (1L, -0.498991), s"$got")
    }
  }

  test("bigram score separates word-salad from ordered prose") {
    import spark.implicits._
    // same unigram bag, different order: a unigram model scores these
    // identically; the bigram model must rank the in-order doc higher
    val prose = "the cat sat on the mat and the dog sat on the rug"
    val salad = "mat the on dog sat the rug cat the and on sat the"
    val docs = Seq((1L, prose), (2L, prose), (3L, salad))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLogProbScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(1L) > got(3L), s"$got")
  }

  test("unigram log-prob score: hand-computed, partitioning-invariant") {
    import spark.implicits._
    // corpus model: a→2/5, b→2/5, c→1/5 (5 tokens total)
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    for (parts <- Seq(1, 3)) {
      val got = TextOps.unigramLogProbScore(docs.repartition(parts),
          "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      // doc 1: three tokens all p=0.4 → ln(0.4) ≈ -0.916291
      assert(got(1L)._1 == 3 && got(1L)._2 == -0.916291, s"$got")
      // doc 2: (ln 0.4 + ln 0.2)/2 ≈ -1.262864
      assert(got(2L)._1 == 2 && got(2L)._2 == -1.262864, s"$got")
    }
    // rarer-token doc scores strictly lower: the filter's ordering claim
    assert(got2(docs) < 0)
    def got2(d: org.apache.spark.sql.DataFrame): Double = {
      val m = TextOps.unigramLogProbScore(d, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      m(2L) - m(1L) // doc 2 contains the rare token → lower score
    }
  }

  test("bm25TopK ranks query-dense docs first; exact ties break by id") {
    val docs = Seq(
      (1L, "hash join hash join vector"),   // dense in query terms
      (2L, "hash scan scan scan scan"),     // one hit
      (3L, "scan filter merge sort row"),   // no hits → absent
      (4L, "hash join hash join vector")    // identical to 1 → exact tie
    ).toDF("doc_id", "text")
    val out = TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("hash", "join", "vector"), 10)
      .orderBy($"rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(out.map(_._1).toSet == Set(1L, 2L, 4L), out.toString)
    // identical docs score identically (decimal sums); id breaks the tie
    assert(out.take(2).map(_._1) == Seq(1L, 4L), out.toString)
    assert(out.last._1 == 2L)
    // k truncates
    assert(TextOps.bm25TopK(docs, "doc_id", "text",
      Seq("hash"), 2).count() == 2)
  }

  test("bm25Projection hit features match the token-level spellings " +
       "(count_in; array_intersect of distinct tokens)") {
    val terms = Seq("hash", "join", "vector")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(300)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((91001L, ""), (91002L, "hash hash join"))
        .toDF("doc_id", "text"))
      .unionByName(Seq(91003L).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    val proj = TextOps.bm25Projection(corpus, "doc_id", "text", terms)
    // q169's naive ranking feature: size(__hits) ≡ count_in
    val a = proj.select(col("doc_id"), size(col("__hits")).as("n"))
    val b = corpus.select(col("doc_id"),
      call_function("count_in", TextOps.tokens(col("text")),
        array(terms.map(lit): _*)).as("n"))
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
    // q167's relevance label: size(array_distinct(__hits)) ≡
    // size(array_intersect(array_distinct(tokens), terms))
    val c = proj.select(col("doc_id"),
      size(array_distinct(col("__hits"))).as("rel"))
    val d = corpus.select(col("doc_id"),
      size(array_intersect(array_distinct(TextOps.tokens(col("text"))),
        array(terms.map(lit): _*))).as("rel"))
    assert(c.except(d).count() == 0 && d.except(c).count() == 0)
  }

  test("nbClassify learns separable vocabularies; ties break by label") {
    val docs = Seq(
      (1L, "aa", "foo bar foo bar baz"),
      (2L, "aa", "foo foo bar"),
      (3L, "bb", "qux quux qux corge"),
      (4L, "bb", "quux corge corge"),
      (5L, "aa", "foo bar"),        // clearly aa-vocab
      (6L, "bb", "qux quux"),       // clearly bb-vocab
      (7L, "aa", "")                // empty: absent from output
    ).toDF("doc_id", "lang", "text")
    val out = TextOps.nbClassify(docs, "doc_id", "text", "lang", 4096)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    assert(!out.contains(7L))
    assert(out.size == 6)
    // every doc self-classifies correctly on separable vocab
    out.foreach { case (id, (lang, pred)) =>
      assert(pred == lang, s"doc $id: $lang predicted $pred") }
    // unseen-vocab doc: all per-feature scores equal across labels →
    // prior decides; equal priors (and equal totals) would fall to
    // label asc — here 'aa' has more docs AND fewer feature tokens, so
    // check it just runs deterministically
    val probe = Seq((8L, "aa", "zzz unseen token")).toDF(
      "doc_id", "lang", "text")
    val p = TextOps.nbClassify(docs.union(probe), "doc_id", "text",
      "lang", 4096).filter($"doc_id" === 8L).collect()
    assert(p.length == 1)
  }

  test("nbClassify is partitioning-invariant (decimal sums)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def run(d: org.apache.spark.sql.DataFrame) =
      TextOps.nbClassify(d, "doc_id", "text", "lang", 512)
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(run(docs) == run(docs.repartition(13, $"doc_id")))
  }

  test("nbClassify covers every non-empty doc with an in-domain label") {
    // the synthetic corpus draws ALL langs from one shared vocabulary, so
    // lang is statistically uninformative here — no classifier can beat
    // the majority prior on this data (verified: NB collapses to it).
    // Discrimination is gated by the separable-vocab fixture above; on
    // the corpus we gate coverage, label domain, and determinism.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = TextOps.nbClassify(docs, "doc_id", "text", "lang", 4096)
      .cache()
    val nonEmpty = docs.filter(size(TextOps.tokens($"text")) >= 1).count()
    assert(out.count() == nonEmpty)
    val labels = docs.select("lang").distinct().as[String].collect().toSet
    assert(out.select("pred").distinct().as[String].collect()
      .forall(labels.contains))
    out.unpersist()
  }

  test("importanceWeights ranks target-like docs above off-domain ones") {
    // target domain talks about spark; raw corpus mixes domains
    val raw = Seq(
      (1L, "spark shuffles partition data across executors"),
      (2L, "spark executors cache partition blocks"),
      (3L, "recipes simmer onions garlic and butter slowly"),
      (4L, ""), // empty: no features, absent from output
      (5L, "spark")  // single token: exactly one (unigram) feature
    ).toDF("doc_id", "text")
    val target = Seq(
      (100L, "spark executors shuffle partition data"),
      (101L, "spark cache partition blocks across executors")
    ).toDF("doc_id", "text")
    val w = TextOps.importanceWeights(raw, target, "doc_id", "text",
      nBuckets = 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(!w.contains(4L))
    // 1-token doc: the width-2 fallback guard keeps it at ONE feature
    assert(w(5L)._1 == 1L)
    // spark-domain docs outrank the cooking doc
    assert(w(1L)._2 > w(3L)._2, w.toString)
    assert(w(2L)._2 > w(3L)._2, w.toString)
    // partitioning invariance (decimal sums, deterministic hashing)
    val w2 = TextOps.importanceWeights(raw.repartition(7, $"doc_id"),
      target.repartition(3, $"doc_id"), "doc_id", "text", nBuckets = 4096)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(w == w2)
  }

  test("skipgramPairsFromTokens: window-2 forward pairs, scan-side") {
    import spark.implicits._
    val df = Seq((1L, "a b c d"), (2L, "x"), (3L, "")).toDF("doc_id", "text")
    val pairs = df.select($"doc_id", TextOps.tokens($"text").as("tk"))
      .select($"doc_id",
        explode(TextOps.skipgramPairsFromTokens($"tk", 2)).as("p"))
      .select($"doc_id", $"p.a", $"p.b")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    // forward pairs at distance 1..2 only; singleton and empty docs
    // contribute nothing (explode of an empty array emits no row)
    assert(pairs === Set((1L, "a", "b"), (1L, "a", "c"), (1L, "b", "c"),
      (1L, "b", "d"), (1L, "c", "d")))
  }
}
