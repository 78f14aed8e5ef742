package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The `etl_synthea` workload: one `graft.etl.EtlRunner.run` of a
  * `SyntheaGen` corpus plus a seeded vocabulary into an empty directory. */
object Etl {

  /** Corpus size. The pass is dominated by per-job overhead below ~10k
    * patients (500 and 2,500 patients both take ~40 s cold on 4 cores), so
    * this is the largest corpus whose cold pass fits the run budget. */
  val Patients = 2500

  /** The Synthea CSVs `SyntheaGen` writes; all of them are ETL inputs. */
  val Csvs = Seq("patients", "encounters", "conditions", "medications",
    "procedures", "observations", "immunizations", "patient_expenses",
    "devices", "allergies")

  /** Stage of every table `EtlRunner` writes, by path under the output
    * directory. `None` marks a table the benchmark does not know yet: a
    * traced run fails on it rather than let it drop out of the record. */
  def stageOf(table: String): Option[String] = table match {
    case t if t.startsWith("_typed/") => Some("etl.typing_s")
    case "person_map" | "visit_map" => Some("etl.idmap_s")
    case "person" | "visit_occurrence" | "condition_occurrence" |
         "drug_exposure" | "procedure_occurrence" | "measurement" |
         "observation" | "death" | "cost" | "drug_exposure_immunizations" |
         "payer_plan_period" | "device_exposure" | "observation_period" |
         "concept_ancestor" | "concept_synonym" => Some("etl.domains_s")
    case "drug_era" | "condition_era" => Some("etl.eras_s")
    case "achilles_results" | "achilles_results_dist" => Some("analyze.achilles_s")
    case "validation" => Some("etl.validation_s")
    case _ => None
  }

  val Stages = Seq("etl.typing_s", "etl.idmap_s", "etl.domains_s", "etl.eras_s",
    "analyze.achilles_s", "etl.validation_s")

  /** (table, column prefix, domain) of each gold table `EtlRunner` maps
    * through the vocabulary; the columns are `<prefix>_source_value`,
    * `<prefix>_source_concept_id` and `<prefix>_concept_id`. */
  val Mapped = Seq(
    ("condition_occurrence", "condition", "Condition"),
    ("drug_exposure", "drug", "Drug"),
    ("procedure_occurrence", "procedure", "Procedure"),
    ("measurement", "measurement", "Measurement"),
    ("observation", "observation", "Observation"))

  /** Source CSV → (vocabulary, domains its codes are mapped in). */
  val CodeSources = Seq(
    ("conditions", "SNOMED", Seq("Condition")),
    ("medications", "RxNorm", Seq("Drug")),
    ("procedures", "SNOMED", Seq("Procedure")),
    ("observations", "LOINC", Seq("Measurement", "Observation")))

  /** Generates the corpus once per checkout (it takes no seed) and returns
    * its directory. Written to a temporary name and renamed, so a killed
    * run never leaves a partial corpus behind. */
  def corpus(spark: SparkSession, work: File): File = {
    val dir = new File(work, s"synthea-$Patients")
    if (!new File(dir, "_COMPLETE").exists) {
      val tmp = new File(work, s"synthea-$Patients.tmp")
      Fs.delete(tmp); Fs.delete(dir)
      graft.tools.SyntheaGen.gen(spark, tmp.getPath, Patients)
      new File(tmp, "_COMPLETE").createNewFile()
      require(tmp.renameTo(dir), s"cannot rename $tmp")
    }
    dir
  }

  /** Data-row count of each corpus CSV. */
  def csvRows(corpus: File): Map[String, Long] =
    Csvs.map(n => n -> Inputs.csvRows(new File(corpus, s"$n.csv"))).toMap

  /** Every code the corpus carries for each mapped vocabulary. */
  def corpusCodes(corpus: File): Seq[(String, String, Seq[String])] =
    CodeSources.flatMap { case (csv, vocabulary, domains) =>
      Inputs.csvColumn(new File(corpus, s"$csv.csv"), "CODE").toSeq.sorted
        .map(code => (code, vocabulary, domains))
    }
}

/** Seeded OMOP vocabulary for the ETL: `CONCEPT.csv` and
  * `CONCEPT_RELATIONSHIP.csv` (tab-separated, as OMOP ships them) covering
  * every code of the corpus, so `Vocab.mapDomain` has real work to do.
  *
  * Per code the seed picks one of two mapping routes: a non-standard source
  * concept with a `Maps to` edge to a standard concept per domain (stage 2
  * of `Vocab.mapDomain`), or a standard concept carrying the code itself
  * (stage 3, direct match). Around them it adds decoys each stage must
  * skip — a deprecated higher-id duplicate of the source code, `Maps to`
  * edges to deprecated or non-standard concepts, non-`Maps to` edges — and
  * a few thousand unrelated filler concepts and edges. The expected
  * (source concept, standard concept) per (domain, code) follows from the
  * construction. */
object VocabGen {
  final case class Concept(id: Long, domain: String, vocabulary: String,
                           standard: String, code: String, invalid: String)

  def write(dir: File, seed: Long,
            codes: Seq[(String, String, Seq[String])]): Map[(String, String), (Long, Long)] = {
    val rnd = new Random(seed)
    val used = mutable.HashSet.empty[Long]
    def fresh(): Long = {
      var id = 0L
      while ({ id = 1000000L + rnd.nextInt(90000000); used.contains(id) }) ()
      used += id; id
    }
    val concepts = mutable.ArrayBuffer.empty[Concept]
    val rels = mutable.ArrayBuffer.empty[(Long, Long, String)]
    val expected = mutable.LinkedHashMap.empty[(String, String), (Long, Long)]

    for ((code, vocabulary, domains) <- codes) {
      if (rnd.nextInt(4) == 0) {
        val ids = domains.map { d =>
          val id = fresh(); concepts += Concept(id, d, vocabulary, "S", code, ""); d -> id
        }
        val src = ids.map(_._2).min
        ids.foreach { case (d, id) => expected((d, code)) = (src, id) }
      } else {
        val src = fresh()
        concepts += Concept(src, domains.head, vocabulary, "", code, "")
        // a deprecated duplicate of the code loses stage 1's lowest-id pick
        if (rnd.nextBoolean()) {
          var dup = src + 1 + rnd.nextInt(1000)
          while (used.contains(dup)) dup += 1
          used += dup
          concepts += Concept(dup, domains.head, vocabulary, "", code, "U")
        }
        for (d <- domains) {
          val std = fresh()
          concepts += Concept(std, d, vocabulary, "S", s"std-$code-$d", "")
          rels += ((src, std, "Maps to"))
          expected((d, code)) = (src, std)
          val stale = fresh()
          concepts += Concept(stale, d, vocabulary, "S", s"old-$code-$d", "D")
          rels += ((src, stale, "Maps to"))
          val nonStd = fresh()
          concepts += Concept(nonStd, d, vocabulary, "", s"alt-$code-$d", "")
          rels += ((src, nonStd, if (rnd.nextBoolean()) "Maps to" else "Is a"))
        }
      }
    }
    val vocabularies = Seq("SNOMED", "RxNorm", "LOINC", "ICD10CM")
    val domainsAll = Seq("Condition", "Drug", "Procedure", "Measurement", "Observation")
    val fillers = (0 until 3000 + rnd.nextInt(2000)).map { i =>
      val c = Concept(fresh(), domainsAll(rnd.nextInt(domainsAll.size)),
        vocabularies(rnd.nextInt(vocabularies.size)),
        if (rnd.nextBoolean()) "S" else "", f"F$i%07d", "")
      concepts += c; c
    }
    for (_ <- 0 until fillers.size * 2) {
      val a = fillers(rnd.nextInt(fillers.size)); val b = fillers(rnd.nextInt(fillers.size))
      rels += ((a.id, b.id, Seq("Maps to", "Is a", "Subsumes")(rnd.nextInt(3))))
    }

    dir.mkdirs()
    tsv(new File(dir, "CONCEPT.csv"), Seq("concept_id", "concept_name", "domain_id",
      "vocabulary_id", "concept_class_id", "standard_concept", "concept_code",
      "valid_start_date", "valid_end_date", "invalid_reason"),
      rnd.shuffle(concepts.toSeq).map(c => Seq(c.id.toString, s"${c.vocabulary} ${c.code}",
        c.domain, c.vocabulary, "Clinical", c.standard, c.code, "19700101",
        if (c.invalid.isEmpty) "20991231" else "20200101", c.invalid)))
    tsv(new File(dir, "CONCEPT_RELATIONSHIP.csv"), Seq("concept_id_1", "concept_id_2",
      "relationship_id", "valid_start_date", "valid_end_date", "invalid_reason"),
      rnd.shuffle(rels.toSeq).map { case (a, b, r) =>
        Seq(a.toString, b.toString, r, "19700101", "20991231", "") })
    expected.toMap
  }

  private def tsv(f: File, header: Seq[String], rows: Seq[Seq[String]]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try (header +: rows).foreach(r => w.println(r.mkString("\t"))) finally w.close()
  }
}

/** `etl_synthea`: the ETL is run once per JVM, as users run it, so its one
  * pass is also its cold pass. */
final class EtlWorkload(a: Main.Args) extends Workload {
  private val expectedFile = new File(a.expected, "etl.json")
  private val expected = Json.read(expectedFile)
  private val out = new File(a.work, "etl-out")
  private val vocab = new File(a.work, "vocab")
  private var corpus: File = _
  private var mapping = Map.empty[(String, String), (Long, Long)]
  private var inputRows = Map.empty[String, Long]
  private var goldRows = Map.empty[String, Long]
  private var unknownTables = 0

  def prepare(spark: SparkSession): Unit = {
    require(expected.get("patients").asInt == Etl.Patients,
      s"$expectedFile was recorded for another corpus size")
    corpus = Etl.corpus(spark, a.work)
    Fs.delete(vocab)
    mapping = VocabGen.write(vocab, a.seed, Etl.corpusCodes(corpus))
  }

  def verify(spark: SparkSession): Unit = {
    inputRows = Etl.csvRows(corpus)
    if (!a.record) for ((csv, n) <- Json.fields(expected.get("inputs")))
      require(inputRows.get(csv).contains(n.asLong),
        s"corpus $csv has ${inputRows.get(csv)} rows, expected ${n.asLong}")
    for (f <- Seq("CONCEPT.csv", "CONCEPT_RELATIONSHIP.csv"))
      require(new File(vocab, f).length > 0, s"vocabulary file $f is missing")
  }

  def measure(spark: SparkSession, run: Span): Outcome = {
    Fs.delete(out)
    val pass = run.child("pass", "etl", Main.nowMs)
    val t0 = System.nanoTime
    val report = graft.etl.EtlRunner.run(spark, corpus.getPath, out.getPath,
      Some(vocab.getPath))
    val passS = Main.seconds(t0)
    pass.endMs = Main.nowMs

    val validation = report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    goldRows = out.listFiles.filter(f => f.isDirectory && !f.getName.startsWith("_") &&
      f.getName != "validation")
      .map(f => f.getName -> Inputs.parquetRows(f, spark.sparkContext.hadoopConfiguration))
      .toMap
    val mapped = Etl.Mapped.map { case (table, prefix, domain) =>
      domain -> spark.read.parquet(new File(out, table).getPath)
        .select(s"${prefix}_source_value", s"${prefix}_source_concept_id",
          s"${prefix}_concept_id").distinct().collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val heap = Main.retainedHeapMb()

    val checks: Seq[Boolean] =
      if (a.record) {
        Json.write(expectedFile, Map("patients" -> Etl.Patients, "inputs" -> inputRows,
          "validation" -> validation, "gold_rows" -> goldRows))
        Nil
      } else {
        def compare(what: String, got: Map[String, Long], node: String) = {
          val want = Json.fields(expected.get(node)).map { case (k, v) => k -> v.asLong }.toMap
          (want.keySet ++ got.keySet).toSeq.sorted.map(k =>
            check(got.get(k) == want.get(k), s"$what $k: ${got.get(k)}, expected ${want.get(k)}"))
        }
        compare("validation check", validation, "validation") ++
          compare("gold table rows", goldRows, "gold_rows") ++
          mapped.map { case (domain, triples) =>
            check(triples.nonEmpty && triples.forall { case (code, src, std) =>
              mapping.get((domain, code)).contains((src, std))
            }, s"$domain concept mapping ${triples.mkString(", ")}")
          }
      }
    val dirtyRows = inputRows.values.sum.toDouble
    Outcome(Map("pass_s" -> passS, "cold_pass_s" -> passS,
      "rows_per_s" -> dirtyRows / passS, "driver_heap_mb" -> heap),
      1 + checks.size, checks.count(!_))
  }

  override def traceFailures: Int = unknownTables

  /** Stage times partition the pass: a table's span runs from the end of
    * the previous write to the end of its own, and the tail after the last
    * write (reading the report back) belongs to validation. */
  def layers(run: Span, r: Recorder, o: Outcome): Map[String, Double] = {
    val pass = run.children.head
    val root = out.getAbsolutePath + "/"
    var prev = pass.startMs
    val stage = mutable.LinkedHashMap(Etl.Stages.map(_ -> 0.0): _*)
    var writeS = 0.0
    for (w <- r.writes if w.path.startsWith(root)) {
      val table = w.path.stripPrefix(root)
      val span = pass.child("table", table, prev)
      span.endMs = w.endMs
      span.attrs ++= Seq("write_s" -> w.seconds)
      Etl.stageOf(table) match {
        case Some(s) => stage(s) += span.seconds; span.attrs += "stage" -> s
        case None =>
          Console.err.println(s"[perfbench] table $table has no ETL stage")
          unknownTables += 1
      }
      writeS += w.seconds
      prev = w.endMs
    }
    stage("etl.validation_s") += (pass.endMs - prev) / 1000.0
    val jobs = r.jobsIn(pass)
    val tasks = r.taskSums(jobs)
    stage.toMap ++ Map(
      "etl.write_s" -> writeS, "etl.construct_s" -> (o.endToEnd("pass_s") - writeS),
      "etl.jobs" -> jobs.size.toDouble,
      "etl.gold_rows" -> goldRows.values.sum.toDouble,
      "trace.pass_s" -> o.endToEnd("pass_s")) ++
      Seq("task_s", "gc_s", "shuffle_mb", "spill_mb", "input_mb", "output_mb")
        .map(k => s"etl.$k" -> tasks(k))
  }
}
