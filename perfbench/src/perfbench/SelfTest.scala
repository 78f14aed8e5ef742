package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Prints one line per test and exits non-zero if any fails. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def expectThrows(body: => Unit): Unit = {
    val threw = try { body; false } catch { case _: IllegalStateException => true }
    if (!threw) throw new AssertionError("expected an IllegalStateException")
  }

  def main(argv: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val work = new File(argv(argv.indexOf("--work") + 1))
    Fs.delete(work)
    val spark = Main.newSession()
    digestTests(spark)
    cacheTests(spark)
    etlStageTest(spark, work)
    spark.stop()
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def digestTests(spark: SparkSession): Unit = {
    import spark.implicits._
    def digest(sql: String) = Digest.of(spark.sql(sql))

    test("digest ignores row order and partitioning") {
      val df = spark.range(5000).select(col("id"), (col("id") % 7).cast("double").as("d"),
        col("id").cast("string").as("s"))
      val base = Digest.of(df)
      assert(base.rows == 5000)
      assert(Digest.of(df.orderBy(rand(7))) == base)
      assert(Digest.of(df.repartition(13)) == base)
      assert(Digest.of(df.filter(col("id") =!= 17)) != base)
    }

    test("digest tells null positions apart") {
      val a = Seq[(Option[Int], Option[Int])]((None, Some(1))).toDF("x", "y")
      val b = Seq[(Option[Int], Option[Int])]((Some(1), None)).toDF("x", "y")
      assert(Digest.of(a) != Digest.of(b))
    }

    test("digest treats -0.0 as 0.0 and every NaN alike, also when nested") {
      val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
      val a = Seq((0.0, Seq(0.0), Double.NaN, 0.0f)).toDF("d", "ds", "n", "f")
      val b = Seq((-0.0, Seq(-0.0), otherNaN, -0.0f)).toDF("d", "ds", "n", "f")
      val c = Seq((1.0, Seq(0.0), Double.NaN, 0.0f)).toDF("d", "ds", "n", "f")
      assert(Digest.of(a) == Digest.of(b))
      assert(Digest.of(a) != Digest.of(c))
    }

    test("digest canonicalizes map columns, nested ones too") {
      val a = digest("SELECT map('a', 1, 'b', 2) AS m, " +
        "array(map('k', map('x', CAST(-0.0 AS DOUBLE)))) AS nested, " +
        "named_struct('s', map(2, 'two', 1, 'one')) AS st")
      val b = digest("SELECT map('b', 2, 'a', 1) AS m, " +
        "array(map('k', map('x', CAST(0.0 AS DOUBLE)))) AS nested, " +
        "named_struct('s', map(1, 'one', 2, 'two')) AS st")
      val c = digest("SELECT map('a', 1, 'b', 3) AS m, " +
        "array(map('k', map('x', CAST(0.0 AS DOUBLE)))) AS nested, " +
        "named_struct('s', map(1, 'one', 2, 'two')) AS st")
      assert(a == b)
      assert(a != c)
    }

    test("digest of an empty result") {
      assert(Digest.of(spark.range(0).toDF()) == Digest.Result(0, 0))
    }
  }

  def cacheTests(spark: SparkSession): Unit = {
    test("the empty-cache assertion fires when a persist is left behind") {
      SuiteWorkload.fresh(spark)
      val df = spark.range(100).selectExpr("id * 2 AS x").persist()
      df.count()
      expectThrows(SuiteWorkload.assertNoCache(spark))
      spark.catalog.clearCache()
      SuiteWorkload.assertNoCache(spark)
    }

    test("fresh() drops CacheManager, OpCache and checkpointed scratch") {
      val a = spark.range(100).selectExpr("id + 1 AS x").persist()
      a.count()
      graft.core.OpCache.renew("selftest", a)
      spark.range(100).selectExpr("id + 2 AS x").localCheckpoint().count()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      SuiteWorkload.fresh(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
      assert(graft.core.OpCache.size == 0)
    }
  }

  /** Runs the ETL on a tiny corpus with the trace attached and checks that
    * every table written maps to a stage, that every stage is reached, and
    * that the seeded vocabulary maps every coded row as constructed. */
  def etlStageTest(spark: SparkSession, work: File): Unit = test(
      "every table EtlRunner writes maps to a stage; the vocabulary maps every code") {
    val corpus = new File(work, "corpus")
    val vocab = new File(work, "vocab")
    val out = new File(work, "out")
    graft.tools.SyntheaGen.gen(spark, corpus.getPath, 40)
    val mapping = VocabGen.write(vocab, 11, Etl.corpusCodes(corpus))
    val r = new Recorder
    spark.sparkContext.addSparkListener(r)
    graft.etl.EtlRunner.run(spark, corpus.getPath, out.getPath, Some(vocab.getPath))
    for ((table, prefix, domain) <- Etl.Mapped) {
      val triples = spark.read.parquet(new File(out, table).getPath)
        .select(s"${prefix}_source_value", s"${prefix}_source_concept_id",
          s"${prefix}_concept_id").distinct().collect()
      assert(triples.nonEmpty, s"$table is empty")
      for (t <- triples) assert(mapping.get((domain, t.getString(0))) ==
        Some((t.getLong(1), t.getLong(2))), s"$table maps $t")
    }
    // listener events are delivered asynchronously; wait until every
    // write on disk has been seen
    val onDisk = out.listFiles.filter(_.isDirectory).flatMap { d =>
      if (d.getName == "_typed") d.listFiles.filter(_.isDirectory).map("_typed/" + _.getName)
      else Array(d.getName)
    }.toSet
    val root = out.getAbsolutePath + "/"
    def written = r.writes.map(_.path).filter(_.startsWith(root))
      .map(_.stripPrefix(root)).toSet
    val deadline = System.currentTimeMillis + 30000
    while (!onDisk.subsetOf(written) && System.currentTimeMillis < deadline) Thread.sleep(100)
    spark.sparkContext.removeSparkListener(r)
    assert(onDisk.subsetOf(written), s"writes not traced: ${onDisk -- written}")
    val unmapped = written.filter(Etl.stageOf(_).isEmpty)
    assert(unmapped.isEmpty, s"tables without a stage: $unmapped")
    val reached = written.flatMap(Etl.stageOf)
    assert(reached == Etl.Stages.toSet, s"stages never reached: ${Etl.Stages.toSet -- reached}")
  }
}
