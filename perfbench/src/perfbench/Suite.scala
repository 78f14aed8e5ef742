package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import SuiteWorkload.fresh

/** A query-suite workload: each pass runs the suite's queries over the
  * sf0.1 tables, every query from an empty cache and timed to the end of
  * its digest. The first pass is the cold pass and runs the queries in
  * their listed order, so that the same query pays the first jobs'
  * warm-up in every run. The passes that follow run them in a
  * seed-permuted order: one warm-up pass, still slowed by JIT compilation
  * and so not counted, then warm passes until `--seconds` have been
  * measured. */
final class SuiteWorkload(a: Main.Args) extends Workload {
  private val listed = Main.Suites(a.workload)
  private val permuted = new Random(a.seed).shuffle(listed)
  private val expectedFile = new File(a.expected, "suites.json")
  private val expected = Json.read(expectedFile)

  final case class QueryRun(name: String, span: Span, construct: Double,
                            exec: Double, rows: Long, cachedMb: Double)

  private val passes = mutable.ArrayBuffer.empty[Seq[QueryRun]]
  private val observed = mutable.LinkedHashMap.empty[String, mutable.Set[Digest.Result]]

  def prepare(spark: SparkSession): Unit = ()

  def verify(spark: SparkSession): Unit =
    for ((t, n) <- Json.fields(expected.get("inputs"))) {
      val got = Inputs.parquetRows(new File(s"${a.data}/$t.parquet"),
        spark.sparkContext.hadoopConfiguration)
      require(got == n.asLong, s"input $t has $got rows, expected ${n.asLong}")
    }

  def measure(spark: SparkSession, run: Span): Outcome = {
    var attempted, failed = 0
    val t0 = System.nanoTime
    while (passes.size < 2 + Main.MeasuredPasses || Main.seconds(t0) < a.seconds) {
      val name = passes.size match { case 0 => "cold"; case 1 => "warmup"; case n => s"warm${n - 1}" }
      val pass = run.child("pass", name, Main.nowMs)
      val runs = (if (passes.isEmpty) listed else permuted).flatMap { q =>
        attempted += 1
        val r = runQuery(spark, q, pass)
        if (r.isEmpty) failed += 1
        r
      }
      pass.endMs = Main.nowMs
      passes += runs
    }
    fresh(spark)
    val heap = Main.retainedHeapMb()

    if (a.record) record()
    else for ((q, results) <- observed) {
      val e = expected.get("queries").get(q)
      val ok = check(e != null, s"$q has no expected digest") && results.forall { r =>
        check(r.rows == e.get("rows").asLong, s"$q returned ${r.rows} rows, expected ${e.get("rows")}") &&
          check(e.get("digest").isNull || r.digest == e.get("digest").asLong,
            s"$q digest ${r.digest}, expected ${e.get("digest")}")
      }
      if (!ok) failed += 1
    }

    // a warm pass is the sum of each query's median over the warm passes,
    // so one query's outlier in one pass does not move it
    val warm = passes.drop(2).flatten.groupBy(_.name).values
      .map(rs => Stats.median(rs.map(r => r.construct + r.exec).toSeq)).sum
    val rows = passes.head.map(_.rows).sum
    Outcome(Map("pass_s" -> warm, "cold_pass_s" -> passes.head.map(r => r.construct + r.exec).sum,
      "rows_per_s" -> rows / warm, "driver_heap_mb" -> heap), attempted, failed)
  }

  private def runQuery(spark: SparkSession, q: String, pass: Span): Option[QueryRun] =
    guarded(q) {
      fresh(spark)
      val span = pass.child("query", q, Main.nowMs)
      val construct = span.child("construct", q, span.startMs)
      val t0 = System.nanoTime
      val df = graft.SparkEntry.queries(q)(spark, a.data)
      val t1 = System.nanoTime
      construct.endMs = Main.nowMs
      val exec = span.child("exec", q, construct.endMs)
      val d = Digest.of(df)
      val t2 = System.nanoTime
      exec.endMs = Main.nowMs
      span.endMs = exec.endMs
      observed.getOrElseUpdate(q, mutable.LinkedHashSet.empty) += d
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0
      span.attrs ++= Seq("construct_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
        "rows" -> d.rows, "cached_mb" -> cachedMb)
      QueryRun(q, span, (t1 - t0) / 1e9, (t2 - t1) / 1e9, d.rows, cachedMb)
    }

  /** Merges this run's digests into the expectation file. A query whose
    * digest differs between passes or runs keeps only its row count. */
  private def record(): Unit = {
    val prior = Json.fields(expected.get("queries")).toMap
    val listed = Main.Suites.values.flatten.toSet
    val merged = (prior.keySet ++ observed.keySet).filter(listed).toSeq.sorted.map { q =>
      val seen = observed.getOrElse(q, mutable.Set.empty[Digest.Result])
      val rows = (seen.map(_.rows) ++ prior.get(q).map(_.get("rows").asLong)).toSet
      require(rows.size == 1, s"$q row count is not deterministic: $rows")
      val digests = seen.map(d => Option(d.digest)) ++
        prior.get(q).map(p => if (p.get("digest").isNull) None else Some(p.get("digest").asLong))
      q -> Map("rows" -> rows.head,
        "digest" -> (if (digests.toSet.size == 1) digests.head else None))
    }
    Json.write(expectedFile, Map(
      "data" -> expected.get("data").asText,
      "inputs" -> Json.fields(expected.get("inputs")).map { case (t, n) => t -> n.asLong }.toMap,
      "queries" -> merged.toMap))
  }

  def layers(run: Span, r: Recorder, o: Outcome): Map[String, Double] = {
    val perPass = passes.drop(2).toSeq.map { p =>
      val constructJobs = p.map(q => r.jobsIn(q.span.children.head))
      val execJobs = p.map(q => q.span.children.lift(1).map(r.jobsIn).getOrElse(Nil))
      val exec = p.map(_.exec).sum
      val jobS = execJobs.map(r.jobUnionSeconds).sum
      val tasks = r.taskSums(constructJobs.flatten ++ execJobs.flatten)
      Map("queries.construct_s" -> p.map(_.construct).sum,
        "queries.construct_jobs" -> constructJobs.map(_.size).sum.toDouble,
        "queries.exec_s" -> exec,
        "queries.jobs" -> execJobs.map(_.size).sum.toDouble,
        "queries.job_s" -> jobS,
        "queries.idle_s" -> (exec - jobS),
        "queries.task_s" -> tasks("task_s"), "queries.gc_s" -> tasks("gc_s"),
        "queries.shuffle_mb" -> tasks("shuffle_mb"), "queries.spill_mb" -> tasks("spill_mb"),
        "core.cached_mb" -> p.map(_.cachedMb).sum) ++
        p.flatMap(q => Seq(s"q.${q.name}.construct_s" -> q.construct,
          s"q.${q.name}.exec_s" -> q.exec))
    }
    perPass.flatMap(_.keys).distinct
      .map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap +
      ("trace.pass_s" -> o.endToEnd("pass_s"))
  }
}

object SuiteWorkload {
  /** Empties every cache a previous query could leave behind — the
    * CacheManager, `OpCache` scratch, persisted and locally checkpointed
    * RDDs — then asserts the CacheManager is empty. */
  def fresh(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    graft.core.OpCache.releaseAll()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    assertNoCache(spark)
  }

  /** Fails when the CacheManager still holds a cached plan. */
  def assertNoCache(spark: SparkSession): Unit = {
    val cm = spark.sharedState.cacheManager
    if (!cm.isEmpty) throw new IllegalStateException(
      "CacheManager is not empty before a timed query")
  }
}
