package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --out result.json --work DIR --data SF_DIR
  *                  --expected DIR [--trace-out trace.json] [--record]
  *
  * Sets up (three times, reporting the median), runs the workload's passes,
  * checks every output against the committed expectations and writes the
  * result object to `--out`. With `--record` it writes the expectations
  * instead of checking them. See perfbench/README.md. */
object Main {

  /** The suite workloads and their queries (names in `SparkEntry.queries`). */
  val Suites: Map[String, Seq[String]] = Map(
    "suite_mixed" -> Seq(
      // near-dup cascade (a top-k target) and two driver-side twins
      "q56_simhash_pairs", "q266_quality_trainer", "q134_bpe_merges",
      // short relational plans; q06 shares DenseId with the ETL
      "q06_dense_id", "q03_anti_join"))

  val Cores: Int = math.min(Runtime.getRuntime.availableProcessors, 4)
  val SetupReps = 3
  /** Warm passes measured after the cold pass and one warm-up pass. */
  val MeasuredPasses = 2

  /** Every per-layer metric, in the order BENCHMARK.json lists them. A
    * workload reports 0 for a layer it never enters. */
  val PerLayer: Seq[String] = Etl.Stages ++ Seq("etl.write_s", "etl.construct_s",
    "etl.jobs", "etl.task_s", "etl.gc_s", "etl.shuffle_mb", "etl.spill_mb",
    "etl.input_mb", "etl.output_mb", "etl.gold_rows",
    "queries.construct_s", "queries.construct_jobs", "queries.exec_s",
    "queries.jobs", "queries.job_s", "queries.idle_s", "queries.task_s",
    "queries.gc_s", "queries.shuffle_mb", "queries.spill_mb", "core.cached_mb",
    "trace.pass_s") ++
    Suites.values.flatten.toSeq.sorted.flatMap(q => Seq(s"q.$q.construct_s", s"q.$q.exec_s"))

  def unitOf(metric: String): String =
    if (metric == "rows_per_s") "rows/s"
    else if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else "count"

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: File, work: File, data: String,
                        expected: File, traceOut: Option[File], record: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.toSeq.sliding(2, 1).collect {
      case Seq(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(w == "etl_synthea" || Suites.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("out")), new File(need("work")), need("data"),
      new File(need("expected")), kv.get("trace-out").map(new File(_)),
      argv.contains("--record"))
  }

  def newSession(): SparkSession = {
    val s = graft.core.Sessions.builder(s"local[$Cores]", Cores).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def nowMs: Long = System.currentTimeMillis

  def seconds(t0: Long): Double = (System.nanoTime - t0) / 1e9

  /** Heap still in use after full collections, in MB. Spark frees the
    * blocks of unreachable broadcasts and shuffles asynchronously after a
    * collection, so it collects until the figure stops falling. */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (cur < prev - 0.5 && rounds < 8) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  def main(argv: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.WARN)
    val a = parse(argv)
    a.work.mkdirs()
    val workload: Workload =
      if (a.workload == "etl_synthea") new EtlWorkload(a) else new SuiteWorkload(a)

    // set-up: process start → session ready and inputs verified, input
    // generation excluded; then twice more from a stopped session
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = newSession()
    val g0 = System.nanoTime
    workload.prepare(spark)
    val generation = seconds(g0)
    workload.verify(spark)
    val setups = mutable.ArrayBuffer((nowMs - jvmStart) / 1000.0 - generation)
    for (_ <- 1 until SetupReps) {
      spark.stop()
      val t0 = System.nanoTime
      spark = newSession()
      workload.verify(spark)
      setups += seconds(t0)
    }

    val recorder = if (a.trace) Some(new Recorder) else None
    recorder.foreach(spark.sparkContext.addSparkListener)
    val run = new Span("run", a.workload, nowMs)
    val outcome = workload.measure(spark, run)
    run.endMs = nowMs
    spark.stop() // drains the listener bus before the trace is read

    val metrics: Map[String, Double] = recorder match {
      case None => outcome.endToEnd + ("setup_s" -> Stats.median(setups.toSeq))
      case Some(r) =>
        val layers = workload.layers(run, r, outcome)
        val all = PerLayer.map(m => m -> layers.getOrElse(m, 0.0)).toMap
        val unknown = layers.keySet -- PerLayer
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        a.traceOut.foreach(f => Json.write(f, Map(
          "workload" -> a.workload, "seed" -> a.seed, "cores" -> Cores,
          "setup_s" -> setups, "traced_pass_s" -> outcome.endToEnd("pass_s"),
          "per_layer" -> PerLayer.map(m => m -> all(m)).toMap,
          "spans" -> spanTree(run, r))))
        all
    }
    val failed = outcome.failed + (if (a.trace) workload.traceFailures else 0)
    Json.write(a.out, Map(
      "correct" -> (failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) }))
  }

  def spanTree(s: Span, r: Recorder): Map[String, Any] = {
    val base = Map[String, Any]("kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "seconds" -> s.seconds) ++ s.attrs
    if (s.children.nonEmpty) base + ("children" -> s.children.map(spanTree(_, r)))
    else base + ("jobs" -> r.jobsIn(s).map(j => Map("job" -> j.id,
      "start_ms" -> j.startMs, "seconds" -> (j.endMs - j.startMs) / 1000.0)))
  }
}

final case class Outcome(endToEnd: Map[String, Double], attempted: Int, failed: Int)

trait Workload {
  /** Untimed input generation. */
  def prepare(spark: SparkSession): Unit
  /** Timed part of set-up: check the inputs are the committed ones. */
  def verify(spark: SparkSession): Unit
  /** The measured passes, their checks, and the end-to-end metrics. */
  def measure(spark: SparkSession, run: Span): Outcome
  /** Per-layer metrics of a traced run, from its spans and Spark events. */
  def layers(run: Span, r: Recorder, o: Outcome): Map[String, Double]
  /** Problems only a traced run can see. */
  def traceFailures: Int = 0

  protected def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) Console.err.println(s"[perfbench] MISMATCH $what")
    ok
  }

  protected def guarded[T](what: String)(body: => T): Option[T] =
    try Some(body) catch {
      case NonFatal(e) =>
        Console.err.println(s"[perfbench] FAILED $what: $e")
        e.printStackTrace()
        None
    }
}
