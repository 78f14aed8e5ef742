package graft.core

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.graftspark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpecBase
import graft.ops.{Bpe, Classifier, Components, Graph, VectorOps}

/** [[LocalGate]] and the differential harness over its five driver-side
  * twins: each body runs with the gate on (the twin) and off (the
  * distributed path), and both runs must give bit-equal results — or
  * both throw the same exception class. The corpora are small and carry
  * the edge values a twin can get wrong: null, NaN, ±0.0, overflow,
  * extreme and supplementary-character ids, empty input. */
class LocalGateSpec extends SparkSpecBase {
  import spark.implicits._

  /** Descriptions of the jobs `body` starts, in start order. */
  private def jobDescriptions[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .orNull))
    }
    ListenerBusAccess.waitUntilEmpty(sc, 10000L)
    sc.addSparkListener(listener)
    try {
      val out = body
      ListenerBusAccess.waitUntilEmpty(sc, 10000L)
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Bit-level normal form: doubles by their bits (NaN canonical, −0.0
    * distinct from 0.0), rows and products by their fields. */
  private def canon(x: Any): Any = x match {
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case r: Row => r.toSeq.map(canon)
    case s: Iterable[_] => s.map(canon).toSeq
    case p: Product if p.productArity > 0 => p.productIterator.map(canon).toSeq
    case other => other
  }

  /** Runs `body` with the gate on, then off. The gate-on run must probe
    * through `twin`'s gate and the gate-off run must not; both results
    * must be bit-equal, or both runs throw the same exception class.
    * Returns the gate-on outcome. */
  private def bothPaths[T](twin: String)(body: => T): Try[T] = {
    val (on, onJobs) = jobDescriptions(Try(body))
    val (off, offJobs) = jobDescriptions(gateOff(Try(body)))
    // a body that fails before the twin's gate (input validation) has
    // nothing to probe
    assert(on.isFailure || onJobs.exists(_.startsWith(s"local gate: $twin")),
      s"gate-on run never probed: $onJobs")
    assert(!offJobs.exists(_.startsWith("local gate:")),
      s"gate-off run probed: $offJobs")
    (on, off) match {
      case (Success(a), Success(b)) =>
        assert(canon(a) == canon(b), s"twin $a\ndistributed $b")
      case (Failure(a), Failure(b)) =>
        assert(a.getClass == b.getClass, s"twin threw $a, distributed $b")
      case _ => fail(s"paths disagree: twin $on, distributed $off")
    }
    on
  }

  private def sorted(rows: Array[Row]): Seq[Row] =
    rows.toSeq.sortBy(r => canon(r).toString)

  private val J = java.lang.Double.valueOf(_: Double)
  private val NullD = null.asInstanceOf[java.lang.Double]

  // ---- the gate itself ----

  test("LocalGate returns every row within budget and None over it") {
    val df = spark.range(0, 100, 1, 7).toDF("id").persist()
    assert(LocalGate.rows(df, 100, "t").map(_.map(_.getLong(0)).sorted.toSeq)
      .contains(0L until 100L))
    // the probe read through the cache, and left all of it materialized
    assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.name.contains("splits=7") && i.numCachedPartitions == 7),
      spark.sparkContext.getRDDStorageInfo.map(_.name).toSeq)
    df.unpersist(blocking = true)
    assert(LocalGate.rows(df.limit(0), 0, "t").map(_.length).contains(0))
    gateOff(assert(LocalGate.rows(df, 100, "t").isEmpty))
  }

  test("LocalGate: an over-budget frame is None after one count job") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").persist()
    df.count()
    val (got, jobs) = jobDescriptions(LocalGate.rows(df, 99, "probe"))
    assert(got.isEmpty)
    // the bounded count: no collect follows, and the description of the
    // caller's jobs is restored
    assert(jobs == Seq("local gate: probe"), jobs)
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    df.unpersist()
  }

  // ---- the five twins ----

  test("trainer: twin = distributed on null, NaN, +-0.0, overflow, empty") {
    val base = (0 until 800).map(i => (J(i / 800.0),
      J(if (i >= 400) 1.0 else 0.0), J((i % 7) / 3.0)))
    val edge = Seq(
      (NullD, J(1.0), J(0.5)),       // null feature
      (J(0.3), NullD, J(0.1)),       // null label
      (J(Double.NaN), J(0.0), J(0.2)), // NaN feature
      (J(-0.0), J(1.0), J(0.0)),     // ±0.0 features
      (J(0.0), J(0.0), J(-0.0)),
      (J(4e18), J(1.0), J(0.0)))     // x·err = 2e18: DECIMAL(28,10) overflow
    def train(rows: Seq[(java.lang.Double, java.lang.Double,
        java.lang.Double)]) = bothPaths("trainer") {
      Classifier.logisticTrain(rows.toDF("x1", "y", "x2"),
        Seq(col("x1"), col("x2")), col("y"), rounds = 5, lr = 4.0)
    }
    assert(train(base ++ edge).isSuccess)
    // empty input: both paths refuse it
    assert(train(Seq.empty).isFailure)
  }

  test("bpe: twin = distributed on gate corpus, non-BMP ties, null, empty") {
    def train(df: => org.apache.spark.sql.DataFrame, n: Int) =
      bothPaths("bpe")(Bpe.train(df, "text", n)).get
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(train(docs, 8).size == 8)
    // UTF8 binary order, not UTF-16 code units: 𝒜 (U+1D49C) sorts
    // after U+E000 in UTF-8 and before it in UTF-16
    assert(train(Seq("é½ é½ ab ab").toDF("text"), 2).size == 2)
    train(Seq("𝒜\uE000 \uE000𝒜 𝒜𝒜 \uE000\uE000").toDF("text"), 3)
    train(Seq(Some("ab ab"), None, Some(""), Some("   ")).toDF("text"), 4)
    assert(train(Seq.empty[String].toDF("text"), 2).isEmpty)
  }

  test("mmr: twin = distributed on gate corpus, NaN, +-0.0, ties, extreme ids") {
    def mmr(q: => org.apache.spark.sql.DataFrame,
            c: => org.apache.spark.sql.DataFrame, k: Int, sel: Int) =
      bothPaths("mmr") {
        sorted(VectorOps.mmrRerank(q, c, shortlistK = k, selectK = sel)
          .select("query_id", "neighbor_id", "rel", "step").collect())
      }.get
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    assert(mmr(emb.filter(col("vec_id") < 20), emb, 12, 5).size == 20 * 5)
    def v(xs: Float*) = xs.toArray
    val corpus = Seq(
      (Long.MinValue, v(1f, 0.1f)), (-1L, v(1f, 0.1f)), // tied rel
      (0L, v(-0.0f, 1f)), (1L, v(0.0f, 1f)),            // ±0.0
      (2L, v(Float.NaN, 1f)),                           // NaN cosine
      (3L, v(0f, 0f)),                      // zero norm: NaN, not an error
      (Long.MaxValue, v(0.7f, 0.7f)))
      .toDF("vec_id", "embedding")
    val q = Seq((10L, v(1f, 0.8f)), (11L, v(-0.0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = mmr(q, corpus, 7, 7)
    assert(got.exists(r => r.getLong(1) == 3L && r.getDouble(2).isNaN), got)
  }

  test("components: twin = distributed on null, extreme and non-BMP ids, empty") {
    def cc(df: => org.apache.spark.sql.DataFrame) = bothPaths("components") {
      sorted(Components.connectedComponents(df, "a", "b").collect())
    }.get
    val mixed = Seq((1L, 9L), (9L, 4L), (2L, 7L), (7L, 2L), (3L, 8L),
      (8L, 30L), (30L, 31L), (40L, 41L), (41L, 4L))
    assert(cc(mixed.toDF("a", "b")).size == 11)
    val edge = mixed.map { case (a, b) => (Option(a), Option(b)) } ++ Seq(
      (Some(Long.MinValue), Some(Long.MaxValue)), (Some(Long.MaxValue),
        Some(5L)), (None, Some(1L)), (Some(3L), None), (None, None),
      (Some(6L), Some(6L)))
    val got = cc(edge.toDF("a", "b"))
    assert(got.contains(Row(5L, Long.MinValue)))
    // UTF-8 byte order: U+E000 sorts before 𝒜 (U+1D49C), unlike UTF-16
    val str = Seq(("𝒜", "\uE000"), ("é", "b"), ("x", null))
    assert(cc(str.toDF("a", "b")).map(_.getString(1)).toSet ==
      Set("\uE000", "b"))
    assert(cc(Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
  }

  test("pagerank: twin = distributed on null, extreme and non-BMP ids, empty") {
    def pr(df: => org.apache.spark.sql.DataFrame) = bothPaths("pagerank") {
      sorted(Graph.pageRankScaled(df, "src", "dst", iters = 8).collect())
    }
    val edges = (1 to 60).map(i => (i.toLong, (i % 13).toLong + 100L)) ++
      Seq((100L, 1L), (101L, 2L))
    assert(pr(edges.toDF("src", "dst")).get.size == 73)
    val edge = edges.map { case (a, b) => (Option(a), Option(b)) } ++ Seq(
      (Some(Long.MinValue), Some(Long.MaxValue)), (Some(Long.MaxValue),
        Some(1L)), (None, Some(1L)), (Some(2L), None), (Some(7L), Some(7L)))
    assert(pr(edge.toDF("src", "dst")).get.size == 75)
    pr(Seq(("𝒜", "\uE000"), ("\uE000", "b"), ("b", "𝒜"), ("é", null))
      .toDF("src", "dst")).get
    assert(pr(Seq.empty[(Long, Long)].toDF("src", "dst")).isFailure)
  }
}
