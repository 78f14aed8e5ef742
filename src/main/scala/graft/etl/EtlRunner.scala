package graft.etl

import java.util.UUID
import java.util.concurrent.{CancellationException, ExecutionException,
  Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI entry: run the full Synthea→OMOP pipeline over a directory of
  * Synthea CSVs and write OMOP parquet tables + a validation report.
  *
  *   runMain graft.etl.EtlRunner <syntheaDir> <outDir> [vocabDir]
  *
  * The run is a DAG of steps, like the reference's
  * (etl_pipeline/etl_main.py:44-96). A step writes one typed table, id
  * map, gold table, era, Achilles table, `observation_period` or the
  * validation report, or prepares what several of them read: the
  * vocabulary, the person count, the allergy spans, and the dense-id
  * passes a domain shares with its cost rows. It starts as soon as the
  * steps it reads have finished, so its driver-side work (header reads,
  * DenseId count/bounds collects, planning, the write and its read-back)
  * overlaps the jobs of the other steps on the shared SparkContext:
  *
  *   1. the six typed tables (`_typed/`), read from the CSVs;
  *   1. `person_map` ← patients and `visit_map` ← encounters, then the
  *      person count;
  *   1. person, visit_occurrence, death, the five vocabulary-mapped
  *      domains (condition_occurrence, drug_exposure,
  *      procedure_occurrence, measurement, observation), cost and the
  *      optional sources (immunizations, patient_expenses, devices,
  *      allergies, the vocabulary's ancestor and synonym tables);
  *   1. drug_era ← drug_exposure and condition_era ← condition_occurrence;
  *   1. achilles_results and observation_period;
  *   1. achilles_results_dist ← observation_period, and validation.
  *
  * If a step fails, the run cancels its jobs in flight, waits for every
  * step and rethrows the first failure.
  */
object EtlRunner {

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val vocabDir = args.lift(2)
    val spark = graft.core.Sessions.local()
    try {
      val report = run(spark, inDir, outDir, vocabDir)
      report.show(50, truncate = false)
    } finally spark.stop()
  }

  /** The reference's required input set
    * (python/enhanced_synthea_to_omop.py:101-108). */
  val RequiredFiles: Seq[String] = Seq("patients", "encounters", "conditions",
    "observations", "procedures", "medications")

  /** Path existence via the path's own Hadoop FileSystem — java.nio only
    * sees the driver-local filesystem, so hdfs://-s3a:// inputs would
    * spuriously fail the required check and silently skip every optional
    * source. */
  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def run(spark: SparkSession, inDir: String, outDir: String,
          vocabDir: Option[String] = None): DataFrame = {
    def in(n: String) = s"$inDir/$n.csv"
    val missing = RequiredFiles.filterNot(n => pathExists(spark, in(n)))
    require(missing.isEmpty,
      s"missing required Synthea CSVs in $inDir: " +
        missing.map(_ + ".csv").mkString(", "))
    // ETL reads split at 32 MB, not the 128 MB default: snappy parquet
    // packs ~4-6x the ROWS of the same bytes of CSV text into one scan
    // partition, and the window-heavy dense-id/dedup tier holds whole
    // sorted partitions on the heap per task — 32 MB restores the
    // CSV-era rows-per-task density now that the typed layer re-reads
    // parquet; more, smaller tasks is the right trade everywhere in
    // this pipeline. The conf is session-global, so the prior value is
    // restored on every exit path — a caller sharing the session
    // (specs, library embedding) must not silently inherit 4x more scan
    // partitions for all subsequent reads.
    val mpbKey = "spark.sql.files.maxPartitionBytes"
    val mpbPrior = spark.conf.getOption(mpbKey)
    spark.conf.set(mpbKey, "33554432")
    try runInner(spark, inDir, outDir, vocabDir)
    finally mpbPrior match {
      case Some(v) => spark.conf.set(mpbKey, v)
      case None => spark.conf.unset(mpbKey)
    }
  }

  private def runInner(spark: SparkSession, inDir: String, outDir: String,
                       vocabDir: Option[String]): DataFrame = {
    def in(n: String) = s"$inDir/$n.csv"
    val steps = new Steps(spark)
    import steps.{ec, step}
    // save returns the written table read back, so every consumer scans
    // the parquet rather than recomputing the step's lineage
    def save[I](n: String, input: Future[I])(body: I => DataFrame)
        : Future[DataFrame] = step(n, input) { i =>
      body(i).write.mode("overwrite").parquet(s"$outDir/$n")
      spark.read.parquet(s"$outDir/$n")
    }
    try {
      // bronze → typed (repair pass only where malformed rows can occur:
      // free-text description columns). Typed tables materialize ONCE as
      // parquet at this boundary: downstream consumers share each frame —
      // patients feeds the person map + person + death, encounters the
      // visit map + visit + visit cost, medications/procedures their
      // domain AND cost rows, observations both split halves — and a lazy
      // typing lineage re-reads (and re-repairs) the same CSV text for
      // every consumer: 126.7 GB of input for ~27 GB of CSV at the
      // 101.66M-row scale run. After the cut each re-read is a
      // column-pruned parquet scan of the typed sliver it needs. `_typed`
      // is infrastructure, not a gold table (underscore-prefixed, skipped
      // by inventory sweeps) — the same staged-boundary role the
      // reference's staging schema plays (sql/staging).
      def typed(n: String)(df: => DataFrame) =
        save(s"_typed/$n", Future.unit)(_ => df)
      val tPat = typed("patients")(
        Typing.patients(Ingest.readAllString(spark, in("patients"))))
      val tEnc = typed("encounters")(
        Typing.encounters(Ingest.readRepaired(spark, in("encounters"))))
      val tCon = typed("conditions")(
        Typing.conditions(Ingest.readRepaired(spark, in("conditions"))))
      val tMed = typed("medications")(
        Typing.medications(Ingest.readRepaired(spark, in("medications"))))
      val tPro = typed("procedures")(
        Typing.procedures(Ingest.readRepaired(spark, in("procedures"))))
      val tObs = typed("observations")(
        Typing.observations(Ingest.readRepaired(spark, in("observations"))))

      // id maps (the only global coordination)
      val personMap = save("person_map", tPat)(p => Domains.buildIdMap(spark,
        None, p.filter(col("id").isNotNull), "id", "person_id")
        .withColumnRenamed("id", "source_patient_id"))
      val visitMap = save("visit_map", tEnc)(e => Domains.buildIdMap(spark,
        None, e, "id", "visit_occurrence_id")
        .withColumnRenamed("id", "source_visit_id"))
      // nPersons feeds the closed-form person-leading dense-id bucket
      // (Domains.personBucket): person ids are dense 1..n, so every
      // person-ordered id assignment skips DenseId's bounds-sampling pass —
      // the count on the freshly written map parquet is a sub-second
      // metadata-shaped job, paid once for the whole run.
      val nPersons = step("person_count", personMap)(p => Some(p.count()))
      val ids = for (p <- personMap; v <- visitMap; n <- nPersons)
        yield IdMaps(p, v, n)

      // gold domains
      val person = save("person", tPat.zip(ids)) { case (p, m) =>
        Domains.person(spark, p, m.person) }
      val visit = save("visit_occurrence", tEnc.zip(ids)) { case (e, m) =>
        Domains.visitOccurrence(e, m.person, m.visit) }

      // vocabulary concept mapping (stage-3 chain) when a vocab dir is given
      val vocab = step("vocabulary", Future.unit)(_ => vocabDir.map { vd =>
        (Vocab.loadConcept(spark, s"$vd/CONCEPT.csv"),
          Vocab.loadConceptRelationship(spark,
            s"$vd/CONCEPT_RELATIONSHIP.csv"))
      })
      // optional hierarchy/synonym tables ship with full OMOP vocab drops
      // (enhanced_vocabulary_loader.py:492,564); persisted for rollup queries
      for (vd <- vocabDir) {
        if (pathExists(spark, s"$vd/CONCEPT_ANCESTOR.csv"))
          save("concept_ancestor", Future.unit)(_ =>
            Vocab.loadConceptAncestor(spark, s"$vd/CONCEPT_ANCESTOR.csv"))
        if (pathExists(spark, s"$vd/CONCEPT_SYNONYM.csv"))
          save("concept_synonym", Future.unit)(_ =>
            Vocab.loadConceptSynonym(spark, s"$vd/CONCEPT_SYNONYM.csv"))
      }
      def mapConcepts(vocab: Option[(DataFrame, DataFrame)], df: DataFrame,
                      srcValue: String, srcConcept: String,
                      tgtConcept: String, vocabulary: String,
                      domain: String): DataFrame =
        vocab.fold(df) { case (c, r) =>
          Vocab.mapDomain(df.withColumn(srcConcept, lit(0L)), c, r,
            srcValue, srcConcept, tgtConcept, vocabulary, domain)
        }

      // concept mapping covers the reference's full five-domain sweep
      // (enhanced_synthea_to_omop.py:2300-2400: condition/SNOMED,
      // drug/RxNorm, procedure/SNOMED, measurement/LOINC,
      // observation/LOINC) — mapping only conditions would leave every
      // drug_concept_id at 0, collapsing all of a person's drugs into ONE
      // merged drug_era and stratifying Achilles under concept 0
      val cond = save("condition_occurrence", tCon.zip(ids).zip(vocab)) {
        case ((c, m), v) => mapConcepts(v,
          Domains.conditionOccurrence(c, m.person, m.visit, m.nPersons),
          "condition_source_value", "condition_source_concept_id",
          "condition_concept_id", "SNOMED", "Condition")
      }
      // the id passes shared by each domain and its cost rows
      val drugIds = step("drug_exposure ids", tMed.zip(ids)) { case (t, m) =>
        Domains.drugExposureAndCost(t, m.person, m.visit, m.nPersons) }
      val drug = save("drug_exposure", drugIds.zip(vocab)) {
        case ((d, _), v) => mapConcepts(v, d,
          "drug_source_value", "drug_source_concept_id",
          "drug_concept_id", "RxNorm", "Drug")
      }
      val procIds = step("procedure_occurrence ids", tPro.zip(ids)) {
        case (t, m) =>
          Domains.procedureOccurrenceAndCost(t, m.person, m.visit, m.nPersons)
      }
      val proc = save("procedure_occurrence", procIds.zip(vocab)) {
        case ((p, _), v) => mapConcepts(v, p,
          "procedure_source_value", "procedure_source_concept_id",
          "procedure_concept_id", "SNOMED", "Procedure")
      }
      // OHDSI-standard era derivations (30-day persistence window) —
      // AFTER mapping, so eras merge per standard concept, not per source 0
      val drugEra = save("drug_era", drug.zip(nPersons)) { case (d, n) =>
        Domains.drugEra(d, n) }
      val condEra = save("condition_era", cond.zip(nPersons)) {
        case (c, n) => Domains.conditionEra(c, n) }
      val measObsIds = step("measurement/observation ids", tObs.zip(ids)) {
        case (t, m) => Domains.measurementObservationSplit(t, m.person,
          m.visit, m.nPersons)
      }
      val measT = save("measurement", measObsIds.zip(vocab)) {
        case ((meas, _), v) => mapConcepts(v, meas,
          "measurement_source_value", "measurement_source_concept_id",
          "measurement_concept_id", "LOINC", "Measurement")
      }
      val obsT = save("observation", measObsIds.zip(vocab)) {
        case ((_, obs), v) => mapConcepts(v, obs,
          "observation_source_value", "observation_source_concept_id",
          "observation_concept_id", "LOINC", "Observation")
      }
      save("death", tPat.zip(ids)) { case (p, m) =>
        Domains.death(p, m.person) }
      // cost: all three reference strata (Visit/Drug/Procedure,
      // transform_cost.sql's three INSERT blocks) under one dense cost_id
      save("cost", tEnc.zip(ids).zip(drugIds).zip(procIds)) {
        case (((e, m), (_, drugCost)), (_, procCost)) =>
          Domains.cost(Domains.visitCost(e, m.visit), drugCost, procCost)
      }
      // optional source: immunizations → drug_exposure rows
      val immDrug =
        if (pathExists(spark, in("immunizations")))
          Some(save("drug_exposure_immunizations", ids) { m =>
            val tImm = TypedTables.typedTable(
              Ingest.readRepaired(spark, in("immunizations")), "immunizations")
            Domains.immunizationDrugExposure(tImm, m.person, m.visit,
              m.nPersons)
          })
        else None
      // optional source: patient_expenses → payer_plan_period
      // (synthea-omop-ETL.sql:530-565: one row per person-year of coverage)
      if (pathExists(spark, in("patient_expenses")))
        save("payer_plan_period", ids) { m =>
          val tExp = TypedTables.typedTable(
            Ingest.readRepaired(spark, in("patient_expenses")),
            "patient_expenses")
          val personYears = graft.ops.Dedup.firstRowPerGroup(
            tExp
              .join(broadcast(m.person),
                col("patient_id") === col("source_patient_id"))
              .select(col("person_id"),
                make_date(col("year"), lit(1), lit(1)).as("year_date"),
                col("payer_id"))
              .filter(col("year_date").isNotNull),
            // the reference's NOT EXISTS key (person, period start); payer
            // tiebreak makes the survivor deterministic when one
            // person-year carries two payers (mid-year switch) — reruns
            // stay byte-stable
            Seq(col("person_id"), col("year_date")),
            Seq(col("payer_id").asc_nulls_last))
          Domains.payerPlanPeriod(personYears, m.nPersons)
        }
      // optional source: devices → device_exposure (synthea-omop-ETL.sql:242)
      if (pathExists(spark, in("devices")))
        save("device_exposure", ids) { m =>
          val tDev = TypedTables.typedTable(
            Ingest.readRepaired(spark, in("devices")), "devices")
          Domains.deviceExposure(tDev, m.person, m.visit, m.nPersons)
        }
      // optional source: allergies feed the observation-period sweep
      // (etl_pipeline/etl_observation_periods.py:81-145 includes both)
      val allergySpans =
        if (pathExists(spark, in("allergies")))
          Some(step("allergies", ids) { m =>
            TypedTables.typedTable(
              Ingest.readRepaired(spark, in("allergies")), "allergies")
              .join(broadcast(m.person),
                col("patient") === col("source_patient_id"))
              .select(col("person_id"),
                col("start_time").cast("date").as("start_date"),
                coalesce(col("stop_time"), col("start_time")).cast("date")
                  .as("end_date"))
          })
        else None

      save("achilles_results", Future.sequence(Seq(person, visit, cond,
        drugEra, condEra, proc, drug, obsT, measT))) {
        case Seq(p, v, c, de, ce, pr, d, o, m) =>
          graft.analyze.Achilles.run(p, v, c, Some(de), Some(ce),
            procedure = Some(pr), drugExposure = Some(d), observation = Some(o),
            measurement = Some(m))
      }
      // (table, start column, end column) of each observation-period input
      val sweep = Seq(
        (visit, "visit_start_date", "visit_end_date"),
        (cond, "condition_start_date", "condition_end_date"),
        (drug, "drug_exposure_start_date", "drug_exposure_end_date"),
        (proc, "procedure_date", "procedure_date"),
        (measT, "measurement_date", "measurement_date"),
        (obsT, "observation_date", "observation_date")) ++
        immDrug.map((_, "drug_exposure_start_date", "drug_exposure_end_date")) ++
        allergySpans.map((_, "start_date", "end_date"))
      val obsPeriod = save("observation_period",
        Future.sequence(sweep.map(_._1)).zip(nPersons)) { case (dfs, n) =>
        Domains.observationPeriod(personCount = n, sweepInputs =
          dfs.zip(sweep).map { case (df, (_, start, end)) =>
            df.select(col("person_id"), col(start).as("start_date"),
              col(end).as("end_date"))
          })
      }
      // the dist analyses scan the written period parquet rather than
      // recomputing the multi-domain span sweep (the widest union in the run)
      save("achilles_results_dist",
        Future.sequence(Seq(visit, drugEra, person, obsPeriod))) {
        case Seq(v, de, p, op) => graft.analyze.Achilles.runDist(v, Some(de),
          person = Some(p), observationPeriod = Some(op))
      }

      step("validation", Future.sequence(Seq(person, visit, cond, measT, obsT,
        drugEra, condEra))) { case Seq(p, v, c, m, o, de, ce) =>
        Validation.report(spark, p, v, c, m, o, Some(de), Some(ce))
          .coalesce(1).write.mode("overwrite").json(s"$outDir/validation")
      }
      steps.join()
    } finally steps.close()
    // return the WRITTEN report, not the lazy plan: the validation union
    // scans every gold table, and a caller that collects the returned
    // frame would silently re-execute the whole suite a second time
    // (measured: ~2x the entire validation cost at the 101.66M-row run)
    spark.read.schema("check_name STRING, failed_count LONG")
      .json(s"$outDir/validation")
  }

  private final case class IdMaps(person: DataFrame, visit: DataFrame,
                                  nPersons: Option[Long])

  /** Threads of one run's step pool: wider than the widest level of the
    * DAG (9 steps at the start, 11 once the id maps exist), so a ready
    * step never waits for a thread. Steps never block on one another, so
    * the width bounds the overlap but cannot deadlock the run. */
  private val StepThreads = 16

  /** The step scheduler of one run. A step is started when its input
    * future completes, on a fixed pool of daemon threads the run owns;
    * each thread runs with `spark` as its active session and puts its jobs
    * in the run's job group. The first failing step cancels the group's
    * jobs, running and future, so the other steps fail fast. Inputs are
    * combined with `zip`, `sequence` and `for`, which cannot fail, so
    * every failure passes through a step. */
  private final class Steps(spark: SparkSession) {
    private val group = s"graft-etl-${UUID.randomUUID()}"
    private val t0 = System.nanoTime()
    private val threads = new AtomicInteger()
    private val pool = Executors.newFixedThreadPool(StepThreads, {
      (r: Runnable) =>
        val t = new Thread(() => {
          SparkSession.setActiveSession(spark)
          spark.sparkContext.setJobGroup(group, "graft ETL step")
          r.run()
        }, s"graft-etl-step-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    // appended only by the declaring thread
    private val declared = ArrayBuffer.empty[Future[Any]]
    private val firstError = new AtomicReference[Throwable]()

    /** Runs `body` on the pool once `input` has completed. Each step
      * prints one `[etl-step]` line to stderr with its wall time and its
      * start and end offsets from the start of the run. */
    def step[I, A](name: String, input: Future[I])(body: I => A): Future[A] = {
      val f = input.map { i =>
        val s = System.nanoTime()
        val out =
          try body(i)
          catch {
            case e: Throwable =>
              fail(e)
              // a fatal error thrown out of a future's callback would leave
              // the future incomplete and `join` waiting forever
              throw new ExecutionException(s"ETL step $name failed", e)
          }
        val end = System.nanoTime()
        Console.err.println(f"[etl-step] $name%-34s ${(end - s) / 1e9}%8.1f s" +
          f"  (start ${(s - t0) / 1e9}%6.1f s, end ${(end - t0) / 1e9}%6.1f s)")
        out
      }
      declared += f
      f
    }

    private def fail(e: Throwable): Unit =
      if (firstError.compareAndSet(null, e))
        spark.sparkContext.cancelJobGroupAndFutureJobs(group,
          s"an ETL step failed: $e")

    /** Waits for every step, then rethrows the first failure. */
    def join(): Unit = {
      declared.foreach(Await.ready(_, Duration.Inf))
      Option(firstError.get).foreach(e => throw e)
    }

    /** Stops the pool. On an exit that skipped `join` it first cancels the
      * run's jobs and waits for every step, so no step outlives the run. */
    def close(): Unit = {
      if (!declared.forall(_.isCompleted)) {
        fail(new CancellationException("ETL run abandoned"))
        declared.foreach(Await.ready(_, Duration.Inf))
      }
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
