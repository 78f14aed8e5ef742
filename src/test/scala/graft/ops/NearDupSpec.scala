package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpecBase

class NearDupSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog")  // exact dup of 1
  ).toDF("doc_id", "text")

  test("identical docs share full minhash signature; LSH pairs them") {
    val sh = NearDup.shingleRows(docs, "doc_id", "text", 3)
    val mh = NearDupReference.minhashRows(sh, "doc_id", 16)
    val bands = NearDupReference.lshBands(mh, "doc_id", 4)
    val pairs = NearDup.candidatePairs(bands, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // exact dup pair (1,4) must share all 4 bands
    assert(pairs.contains((1L, 4L, 4L)))
    // near-dup (1,2) should surface as a candidate with ≥1 shared band
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
    // unrelated doc 3 never pairs
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exact jaccard: identical docs = 1.0, near-dups in (0,1)") {
    val sh = NearDup.shingleRows(docs, "doc_id", "text", 3)
    val pairs = Seq((1L, 4L), (1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = NearDupReference.jaccard(pairs, sh, "doc_id")
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0 && j((1L, 2L)) < 1)
    assert(j((1L, 3L)) == 0.0)
  }

  test("simhash: identical docs equal; near-dups closer than unrelated") {
    val sigs = NearDupReference.simhash(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(sigs(1L) == sigs(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
  }

  test("per-row simhashColumn is bit-identical to the batch aggregate") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(200)
    for (bits <- Seq(16, 32)) {
      val perRow = corpus.select(col("doc_id"),
        NearDupReference.simhashColumn(col("text"), bits).as("simhash"))
      val batch = NearDupReference.simhash(corpus, "doc_id", "text", bits)
      assert(perRow.except(batch).count() == 0, s"bits=$bits")
      assert(batch.except(perRow).count() == 0, s"bits=$bits")
    }
    // empty doc: batch tier emits no row; per-row signs as 0
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    assert(empty.select(NearDupReference.simhashColumn(col("text")))
      .head().getLong(0) == 0L)
    assert(NearDupReference.simhash(empty, "doc_id", "text").count() == 0)
  }

  test("blocked simhash pair search equals all-pairs on the corpus") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
    val sigs = NearDupReference.simhash(corpus, "doc_id", "text")
    for (maxDist <- Seq(1, 3)) {
      def collectPairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val exact = collectPairs(
        NearDupReference.simhashPairs(sigs, "doc_id", maxDist)
          .withColumn("hamming", col("hamming").cast("int")))
      val blocked = collectPairs(
        NearDup.simhashPairsBlocked(sigs, "doc_id", maxDist)
          .withColumn("hamming", col("hamming").cast("int")))
      assert(blocked == exact, s"maxDist=$maxDist")
      assert(exact.nonEmpty, s"maxDist=$maxDist trivial corpus")
    }
  }

  test("shorter-than-n docs still shingle (whole doc)") {
    val tiny = Seq((1L, "two words")).toDF("doc_id", "text")
    val sh = NearDup.shingleRows(tiny, "doc_id", "text", 3)
    assert(sh.count() == 1)
  }

  test("native shingle_hashes is bit-identical to the relational window form") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((90001L, ""), (90002L, "one"), (90003L, "two words"),
        (90004L, "  padded   whitespace  doc  ")).toDF("doc_id", "text"))
    for (n <- Seq(1, 2, 3, 5)) {
      val native = NearDup.shingleRows(corpus, "doc_id", "text", n)
        .groupBy("doc_id", "h").count()
      val relational = NearDup
        .shingleRowsRelational(corpus, "doc_id", "text", n)
        .groupBy("doc_id", "h").count()
      // exact multiset equality per doc
      assert(native.except(relational).count() == 0, s"n=$n extra")
      assert(relational.except(native).count() == 0, s"n=$n missing")
    }
  }

  test("n=1 degrades to per-token shingles (no lead window, no th0 ref)") {
    val sh = NearDup.shingleRows(docs, "doc_id", "text", 1)
      .filter(col("doc_id") === 1L)
    // 9 tokens in doc 1 → 9 per-token shingle hashes, equal to polyHash
    // of each token directly
    assert(sh.count() == 9)
    val direct = docs.filter(col("doc_id") === 1L)
      .select(explode(TextOps.tokens(col("text"))).as("t"))
      .select(TextOps.polyHash(col("t")).as("h"))
    assert(sh.select("h").except(direct).count() == 0)
    assertThrows[IllegalArgumentException] {
      NearDup.shingleRows(docs, "doc_id", "text", 0)
    }
  }

  test("minhash agreement tracks jaccard — the family must be well-mixed") {
    // 40-word docs, near-dup differs by one word → J ≈ 37/39 ≈ 0.95.
    // Regression for the order-preserving ((2i+1)h+i) family, under which
    // one small shingle hash argmin'd ALL 16 hash functions and only 4/16
    // minhashes agreed on exactly this shape (LSH recall collapsed at
    // corpus scale while tiny fixtures kept passing).
    val a = (0 until 40).map(i => f"w$i%05x").mkString(" ")
    val b = "changed " + (0 until 39).map(i => f"w$i%05x").mkString(" ")
    val two = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val sh = NearDup.shingleRows(two, "doc_id", "text", 3)
    val mh = NearDupReference.minhashRows(sh, "doc_id", 16)
    val agree = mh.groupBy("i")
      .agg((min("mh") === max("mh")).as("same"))
      .filter(col("same")).count()
    assert(agree >= 12, s"only $agree/16 minhashes agree on a J=0.95 pair")
    // and the pair must surface as an LSH candidate (4 bands of 4)
    val pairs = NearDup.candidatePairs(
      NearDupReference.lshBands(mh, "doc_id", 4), "doc_id")
    assert(pairs.filter(col("doc_a") === 1L && col("doc_b") === 2L)
      .count() == 1)
  }

  test("decontamination flags exactly the corpus docs sharing an n-gram") {
    val bench = Seq(
      (100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
    // corpus doc 1 contains benchmark 3-grams ("the quick brown",
    // "quick brown fox", "brown fox jumps"); docs 3 shares none
    val corpus = docs.filter(col("doc_id").isin(1L, 3L))
    val rep = NearDup.contaminationReport(corpus, bench, "doc_id", "text",
        n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(1L -> 3L))
  }

  test("contamination corpus side is broadcast-semi filtered, not shuffled") {
    val p = NearDup.contaminationReport(docs, docs.limit(1), "doc_id",
        "text", n = 3)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // exactly 3 hash exchanges: benchmark distinct, post-filter hit dedup,
    // per-doc count. The corpus shingle stream itself contributes NONE —
    // it reaches the semi join via the broadcast side filter; a corpus
    // shuffle before the join would make it 4
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3, p)
  }

  test("repeatedSpans merges maximal cross-doc and intra-doc spans") {
    val fx = Seq(
      // doc 2 embeds tokens a4..a15 of doc 1 (12 shared tokens): five
      // 8-windows each, merging to (4,15) in doc 1 and (2,13) in doc 2
      (1L, (0 until 20).map(i => s"a$i").mkString(" ")),
      (2L, "b0 b1 " + (4 to 15).map(i => s"a$i").mkString(" ") + " b2 b3"),
      (3L, (0 until 12).map(i => s"u$i").mkString(" ")), // no repeats
      // intra-doc: the same 8-token phrase twice, back to back — the
      // two occurrences repeat each other but their straddling windows
      // occur once, so the spans stay separate singletons
      (4L, ((0 until 8) ++ (0 until 8)).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = NearDup.repeatedSpans(fx, "doc_id", "text", 8)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      .toSet
    assert(spans == Set((1L, 4, 15, 5L), (2L, 2, 13, 5L),
      (4L, 0, 7, 1L), (4L, 8, 15, 1L)), spans.toString)
  }

  test("repeatedSpans: short docs never leak the whole-doc fallback hash") {
    // two identical 5-token docs: no 8-token window exists, and the
    // shingle expression's whole-doc fallback hash must not surface as
    // a phantom repeated span
    val fx = Seq((1L, "x y z w v"), (2L, "x y z w v")).toDF("doc_id", "text")
    assert(NearDup.repeatedSpans(fx, "doc_id", "text", 8).count() == 0)
  }

  // --- winnowing fingerprints -------------------------------------------

  /** Reference winnow: WIDE two-plane shingle-hash fold (same arithmetic
    * as the native shingle_hashes_wide expression), then per-window min
    * with smallest-hash/rightmost-pos selection, distinct. */
  private def refWinnow(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    def ph(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % TextOps.HashMod)
    def ph2(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 131 + c.toInt) % 998244353L)
    def wideOf(s: String): Long = (ph(s) << 31) + ph2(s)
    val tk = text.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    val hs: Seq[Long] =
      if (tk.length < k) Seq(wideOf(tk.mkString(" ")))
      else tk.sliding(k).map { g =>
        val w1 = g.tail.foldLeft(ph(g.head))((a, t) =>
          (a * 31 + ph(t)) % TextOps.HashMod)
        val w2 = g.tail.foldLeft(ph2(g.head))((a, t) =>
          (a * 131 + ph2(t)) % 998244353L)
        (w1 << 31) + w2
      }.toSeq
    if (hs.length < w) {
      val h = hs.min
      Set((hs.lastIndexOf(h), h))
    } else hs.zipWithIndex.sliding(w).map { win =>
      val m = win.map(_._1).min
      val p = win.filter(_._1 == m).map(_._2).max // rightmost tie
      (p, m)
    }.toSet
  }

  test("winnowFingerprints matches the reference sliding-min selection") {
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then naps"),
      (2L, "a b a b a b a b a b a b"), // heavy ties: rightmost-pos rule
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "short doc"),               // < k tokens: whole-doc fallback
      (5L, "")                         // empty: fallback hash of ""
    )
    val got = NearDupReference.winnowFingerprints(
        texts.toDF("doc_id", "text"), "doc_id", "text", 4, 4)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((id, t) <- texts)
      assert(got(id) == refWinnow(t, 4, 4), s"doc $id")
  }

  test("winnowFingerprints: every w-window of shingles holds a selection") {
    // the winnowing guarantee that makes overlap detection sound: any
    // shared run of >= w+k-1 tokens must contribute >= 1 fingerprint
    val text = (0 until 60).map(i => s"t${i % 17}").mkString(" ")
    val sel = refWinnow(text, 4, 4).map(_._1)
    val m = 60 - 4 + 1
    for (s <- 0 to m - 4)
      assert((s until s + 4).exists(sel.contains), s"window at $s uncovered")
    // and the Spark side selects the identical set
    val got = NearDupReference.winnowFingerprints(
        Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", 4, 4)
      .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(got == refWinnow(text, 4, 4))
  }

  test("winnowFingerprints: near-identical docs share most fingerprints") {
    val base = (0 until 80).map(i => s"w$i").mkString(" ")
    val edited = ((0 until 40).map(i => s"w$i") ++ Seq("CHANGED") ++
      (41 until 80).map(i => s"w$i")).mkString(" ")
    val fp = NearDupReference.winnowFingerprints(
        Seq((1L, base), (2L, edited)).toDF("doc_id", "text"),
        "doc_id", "text", 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val a = fp.filter(_._1 == 1L).map(_._2).toSet
    val b = fp.filter(_._1 == 2L).map(_._2).toSet
    val sim = a.intersect(b).size.toDouble / a.union(b).size
    assert(sim > 0.6, s"robustness: single-token edit kept only $sim shared")
  }

  test("winnowOverlap pairs passage-sharing docs, drops boilerplate") {
    val passage = (0 until 20).map(i => s"p$i").mkString(" ")
    def filler(seed: Int) =
      (0 until 30).map(i => s"f${seed}_$i").mkString(" ")
    // docs 1,2 share a 20-token passage inside distinct filler; 3 is
    // unrelated; every doc ends with the same boilerplate line, which
    // must be excluded by the doc-frequency cap (df = 4 > maxDocFreq 3)
    val boiler = "standard footer applies to all documents here now"
    val fx = Seq(
      (1L, s"${filler(1)} $passage $boiler"),
      (2L, s"${filler(2)} $passage $boiler"),
      (3L, s"${filler(3)} $boiler"),
      (4L, s"${filler(4)} $boiler")
    ).toDF("doc_id", "text")
    val fp = NearDupReference.winnowFingerprints(fx, "doc_id", "text", 4, 4)
    val pairs = NearDupReference.winnowOverlap(fp, "doc_id",
        maxDocFreq = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("containment: a doc swallowed whole scores 1.0, jaccard stays low") {
    import spark.implicits._
    val short = "w1 w2 w3 w4 w5 w6 w7 w8"
    val long = short + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    val docs = Seq((1L, short), (2L, long), (3L, "u1 u2 u3 u4 u5"))
      .toDF("doc_id", "text")
    val sh = NearDup.shingleRows(docs, "doc_id", "text", 3)
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val got = NearDupReference.containment(pairs, sh, "doc_id")
      .select("doc_a", "doc_b", "inter", "cont_a", "cont_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // every 3-shingle of the short doc (6 of them) appears in the long
    // doc's prefix: containment_a = 1.0; the symmetric jaccard would be
    // 6/18 = 0.33 — the asymmetry this operator exists to expose
    val (inter12, contA12, contB12) = got((1L, 2L))
    assert(inter12 == 6L && contA12 == 1.0 && contB12 < 0.5)
    // disjoint docs: zero intersection survives the left join as 0.0
    assert(got((1L, 3L)) == ((0L, 0.0, 0.0)))
  }

  test("setSimJoin: equals the exhaustive all-pairs join (lossless prefix filter)") {
    import spark.implicits._
    val base = "a b c d e f g h i j"
    val docsDf = Seq(
      1L -> base,
      2L -> (base + " k"),        // near-identical to 1
      3L -> "a b c x y z q r s",  // shares a prefix region with 1, low jaccard
      4L -> "m n o p q r s t u v",
      5L -> (base + " k")         // exact dup of 2
    ).toDF("doc_id", "text")
    val t = 0.5
    val got = NearDup.setSimJoin(docsDf, "doc_id", "text", 3, t)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // exhaustive ground truth: every pair's exact shingle jaccard
    val sh = NearDup.shingleRows(docsDf, "doc_id", "text", 3)
    val allPairs = docsDf.select(col("doc_id").as("doc_a"))
      .crossJoin(docsDf.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
    val want = NearDupReference.jaccard(allPairs, sh, "doc_id")
      .filter(col("jaccard") >= t)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(want.nonEmpty) // fixture sanity: threshold pairs exist
    assert(got === want)
    assert(got(2L -> 5L) === 1.0) // the exact dup
  }

  test("sortedNeighborhood: exactly the w-neighborhood per block, gaps ordered") {
    import spark.implicits._
    val rows = Seq((1L, "en", 100L), (2L, "en", 105L), (3L, "en", 200L),
      (4L, "en", 210L), (5L, "de", 100L), (6L, "de", 101L))
      .toDF("doc_id", "lang", "n_chars")
    val got = NearDup.sortedNeighborhood(rows, "doc_id", "lang", "n_chars", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    val want = Set(
      (1L, 2L, "en", 5L), (1L, 3L, "en", 100L),   // 1's two successors
      (2L, 3L, "en", 95L), (2L, 4L, "en", 105L),
      (3L, 4L, "en", 10L),
      (5L, 6L, "de", 1L))                          // blocks never mix
    assert(got === want)
  }

  test("setSimJoin threshold bounds: no sub-threshold pair leaks through") {
    import spark.implicits._
    val df = docs // the suite's shared fixture
    val out = NearDup.setSimJoin(df, "doc_id", "text", 3, 0.6)
      .collect()
    assert(out.forall(_.getAs[Double]("jaccard") >= 0.6))
  }

  test("lshBandsFromDocs is row-identical to the aggregate cascade") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(300)
      // null-text row must be ABSENT from both forms
      .unionByName(spark.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(999999L, null, "en", "web", 0L)),
        spark.read.parquet(s"$sf/documents.parquet").schema))
    for ((k, r) <- Seq((16, 4), (16, 3))) { // divisible + ragged last band
      val agg = NearDupReference.lshBands(
        NearDupReference.minhashRows(
          NearDup.shingleRows(corpus, "doc_id", "text", 3), "doc_id", k),
        "doc_id", r)
      val inRow = NearDup.lshBandsFromDocs(corpus, "doc_id", "text", 3, k, r)
      assert(inRow.except(agg).count() == 0 &&
        agg.except(inRow).count() == 0, s"k=$k r=$r")
    }
  }

  test("winnowFingerprintSets == distinct winnowFingerprints hashes; " +
       "winnowOverlapSets == winnowOverlap") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(300)
    val stream = NearDupReference
      .winnowFingerprints(corpus, "doc_id", "text", 5, 4)
      .select(col("doc_id"), col("h")).distinct()
    val sets = NearDup.winnowFingerprintSets(corpus, "doc_id", "text", 5, 4)
    val fromSets = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    assert(fromSets.except(stream).count() == 0 &&
      stream.except(fromSets).count() == 0)
    val a = NearDupReference.winnowOverlap(
      NearDupReference.winnowFingerprints(corpus, "doc_id", "text", 5, 4),
      "doc_id", 8, 2)
    val b = NearDup.winnowOverlapSets(sets, "doc_id", 8, 2)
    assert(a.except(b).count() == 0 && b.except(a).count() == 0)
  }

  test("shingleSets equals shingleRows.distinct per doc; sets-based " +
       "jaccard/containment are value-identical to the stream forms") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(300)
    for (n <- Seq(1, 3)) {
      // set membership identical (in-row array_distinct == stream distinct)
      val fromSets = NearDup.shingleSets(corpus, "doc_id", "text", n)
        .select(col("doc_id"), explode(col("hs")).as("h"))
      val fromStream = NearDup
        .shingleRows(corpus, "doc_id", "text", n).distinct()
      assert(fromSets.except(fromStream).count() == 0, s"n=$n extra")
      assert(fromStream.except(fromSets).count() == 0, s"n=$n missing")
      // in-row sets are already distinct — no duplicate hash inside hs
      assert(fromSets.groupBy(col("doc_id"), col("h"))
        .count().filter(col("count") > 1).count() == 0, s"n=$n dup-in-row")
    }
    // verify tier: identical numbers on both API shapes, both restrict modes
    val pairs = corpus.select(col("doc_id").as("doc_a"))
      .crossJoin(corpus.select(col("doc_id").as("doc_b")))
      .filter(col("doc_a") < col("doc_b"))
      .filter(pmod(col("doc_a") + col("doc_b"), lit(17)) === 0) // sliver
    val sh = NearDup.shingleRows(corpus, "doc_id", "text", 3)
    val sets = NearDup.shingleSets(corpus, "doc_id", "text", 3)
    for (restrict <- Seq(true, false)) {
      val cols = Seq("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
        .map(col)
      val a = NearDupReference.jaccard(pairs, sh, "doc_id", restrict)
        .select(cols: _*)
      val b = NearDup.jaccardSets(pairs, sets, "doc_id", restrict)
        .select(cols: _*)
      assert(a.except(b).count() == 0 && b.except(a).count() == 0,
        s"jaccard restrict=$restrict")
      val ccols = Seq("doc_a", "doc_b", "inter", "sz_a", "sz_b",
        "cont_a", "cont_b").map(col)
      val ca = NearDupReference.containment(pairs, sh, "doc_id", restrict)
        .select(ccols: _*)
      val cb = NearDup.containmentSets(pairs, sets, "doc_id", restrict)
        .select(ccols: _*)
      assert(ca.except(cb).count() == 0 && cb.except(ca).count() == 0,
        s"containment restrict=$restrict")
      // dropZero: identical to the outer form minus empty intersections
      val aNz = a.filter(col("inter") > 0)
      val bNz = NearDup.jaccardSets(pairs, sets, "doc_id", restrict,
        dropZero = true).select(cols: _*)
      assert(aNz.except(bNz).count() == 0 && bNz.except(aNz).count() == 0,
        s"jaccard dropZero restrict=$restrict")
      val cNz = NearDup.containmentSets(pairs, sets, "doc_id", restrict,
        dropZero = true).select(ccols: _*)
      assert(ca.filter(col("inter") > 0).except(cNz).count() == 0 &&
        cNz.except(ca.filter(col("inter") > 0)).count() == 0,
        s"containment dropZero restrict=$restrict")
    }
  }

  test("simhashDocs is row-identical to the batch simhash aggregate, " +
       "including empty and null texts") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((91001L, ""), (91002L, "   "),
        (91003L, "one token")).toDF("doc_id", "text"))
      .unionByName(Seq(91004L).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    for (bits <- Seq(16, 32)) {
      val inRow = NearDup.simhashDocs(corpus, "doc_id", "text", bits)
      val batch = NearDupReference.simhash(corpus, "doc_id", "text", bits)
      assert(inRow.except(batch).count() == 0, s"bits=$bits extra")
      assert(batch.except(inRow).count() == 0, s"bits=$bits missing")
    }
  }

  test("winnowFingerprintStats equals the explode+groupBy aggregate " +
       "over winnowFingerprints") {
    val corpus = spark.read.parquet(s"$sf/documents.parquet").limit(300)
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((91001L, ""), (91002L, "one token"))
        .toDF("doc_id", "text"))
      .unionByName(Seq(91003L).toDF("doc_id")
        .select(col("doc_id"), lit(null).cast("string").as("text")))
    for ((k, w) <- Seq((5, 4), (3, 2))) {
      val agg = NearDupReference.winnowFingerprints(corpus, "doc_id", "text",
        k, w)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), min(col("h")).as("fp_min"),
          sum(shiftright(col("h"), 31)).as("fp_sum_hi"),
          sum(col("h").bitwiseAND(lit((1L << 31) - 1))).as("fp_sum_lo"))
      val inRow = NearDup.winnowFingerprintStats(corpus, "doc_id", "text",
        k, w)
      assert(inRow.except(agg).count() == 0, s"k=$k w=$w extra")
      assert(agg.except(inRow).count() == 0, s"k=$k w=$w missing")
    }
  }

  test("per-row signature is bit-identical to the batch minhash aggregate") {
    val orig = (0 until 30).map(i => f"w$i%05x").mkString(" ")
    val near = ((0 until 29).map(i => f"w$i%05x") :+ "changed").mkString(" ")
    val docs = Seq((1L, orig), (2L, near),
      (3L, "completely different content about spark shuffle joins"),
      (4L, "ab")).toDF("doc_id", "text")
    val perRow = docs
      .select(col("doc_id"),
        posexplode(NearDup.signatureColumn(col("text"), 3, 16)))
      .select(col("doc_id"), col("pos").as("i"), col("col").as("mh"))
    val batch = NearDupReference.minhashRows(
      NearDup.shingleRows(docs, "doc_id", "text", 3), "doc_id", 16)
    assert(perRow.except(batch).count() == 0)
    assert(batch.except(perRow).count() == 0)
    assert(batch.count() == 4 * 16)
  }
}
