package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.VectorOps

/** Similarity-search queries over the `embeddings` table. Brute-force
  * cosine is the exact baseline (and the oracle anchor); SRP-LSH bucketing
  * is the 100 TB path — candidates from shared buckets, exact verify within
  * bucket. Dot products fold sequentially in double, so values (not just
  * rounded forms) match the DuckDB oracle.
  */
object VectorQueries {

  val NumQueryVecs = 20
  val TopK = 5
  val SrpPlanes = 12
  val Shortlist = 15

  /** Hard-negative mining for contrastive training
    * ([[VectorOps.hardNegatives]]): per anchor, the top-k most-similar
    * corpus vectors with a DIFFERENT label. */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.hardNegatives(
      emb.filter(col("vec_id") < NumQueryVecs), emb, TopK)
  }

  /** Exact MIPS top-k ([[VectorOps.mipsTopK]]): raw inner product, the
    * objective when magnitudes carry signal. */
  def qMipsTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.mipsTopK(emb.filter(col("vec_id") < NumQueryVecs), emb, TopK)
  }

  /** Brute-force exact top-k cosine neighbors for the first N vec ids. */
  def qAnnBruteforce(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.bruteForceTopK(
      emb.filter(col("vec_id") < NumQueryVecs), emb, TopK)
  }

  /** SRP-LSH bucket histogram: how the corpus distributes over signature
    * buckets (the candidate-generation structure, inspectable). */
  def qSrpBuckets(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    emb
      .select(VectorOps.srpSignatureAuto(emb, "embedding", SrpPlanes)
        .as("sig"))
      .groupBy(col("sig"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Embedding near-dup pairs: SRP bucket candidates verified at cos ≥ 0.2
    * (synthetic corpus has no true near-dups; threshold set to exercise
    * the verify path with a non-empty result). Plane count AUTO-SIZED to
    * the corpus ([[VectorOps.autoPlaneCount]]) so candidate volume stays
    * linear in n — the oracle derives the same count from COUNT(*). */
  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame =
    VectorOps.srpNearDupPairsAuto(Tables.embeddings(s, dir), 0.2)

  /** q263: BANDED SRP near-dup pairs ([[VectorOps.srpBandedNearDupPairsAuto]],
    * planes-per-band auto-sized, band count from the recall contract
    * [[VectorOps.srpBandCountForPlanes]]) — the high-recall
    * multiple-hash-table form: a pair is a candidate when it collides in ANY
    * band, so the result is a SUPERSET of q33's single-table pairs (band 0 IS
    * q33's table). The oracle derives planes from COUNT(*) and bands from the
    * plane count via the same literal-rendered law. */
  def qBandedSrpNearDup(s: SparkSession, dir: String): DataFrame =
    VectorOps.srpBandedNearDupPairsAuto(Tables.embeddings(s, dir), 0.2)

  /** Exact-decimal per-label mean vectors (partition-order-independent,
    * unlike avg(double) whose partial sums reorder across shuffles) —
    * the coarse-quantizer codebook for the IVF tier. */
  private def labelCentroids(emb: DataFrame): DataFrame = {
    val byPos = emb.select(col("label"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("c"))
    byPos.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("centroid"))
  }

  /** Centroid similarity per label: mean vector per label, then cosine of
    * each label centroid against label 0's centroid — grouped vector
    * aggregation (the building block for IVF coarse quantization). */
  def qLabelCentroids(s: SparkSession, dir: String): DataFrame = {
    val centroids = labelCentroids(Tables.embeddings(s, dir))
    val base = centroids.filter(col("label") === 0)
      .select(col("centroid").as("base_centroid"))
    centroids.crossJoin(broadcast(base))
      .select(col("label"),
        round(VectorOps.cosine(col("centroid"), col("base_centroid")), 6)
          .as("cos_to_label0"))
  }

  /** One Lloyd round of [[VectorOps.kmeansFit]], flattened to
    * (centroid_id, pos, c) rows — oracle-gated so the codebook TRAINER
    * (deterministic seed choice, cosine assignment with tiebreak, exact
    * decimal means, empty-list fallback) is pinned value-exactly, not
    * just spec-sanity-checked. Multi-round training is the same code
    * path iterated (spec-gated: blob recovery, partitioning invariance,
    * full-probe ≡ brute force). */
  def qKmeansRound(s: SparkSession, dir: String): DataFrame = {
    val code = VectorOps.kmeansFit(Tables.embeddings(s, dir),
      k = 8, iters = 1)
    code.select(col("centroid_id"),
        posexplode(col("centroid")).as(Seq("pos", "c")))
      .select(col("centroid_id"), col("pos").cast("int").as("pos"),
        round(col("c"), 6).as("c"))
  }

  /** Product-quantization ADC search, oracle-gated: the per-subspace
    * codebook derives from label means (integer nano-unit accumulation,
    * the q60 pattern — no cross-engine rounding-mode skew), vectors are
    * L2-encoded to (subspace, code) rows, and the top-5 per query ranks
    * by the summed lookup-table parts. m = 2 keeps the per-group double
    * sum commutative (two addends), so scores are bit-identical across
    * engines; codebooks trained with [[VectorOps.kmeansFit]] go through
    * the same encode/search code, spec-gated. */
  def qPqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val m = 2
    val books = labelMeanBooks(emb, m, 32)
    val codes = VectorOps.pqEncode(emb, books, m)
    VectorOps.pqTopK(emb.filter(col("vec_id") < NumQueryVecs),
      codes, books, m, TopK)
  }

  /** The label-mean PQ codebooks shared by q65/q102 (integer nano-unit
    * accumulation — the q60 pattern). A codebook is m·k·dsub values —
    * driver-resident BY DESIGN (same posture as kmeansFit): collected
    * once and re-emitted as a local frame, so the many encode/search
    * references read a LocalTableScan instead of re-running the
    * aggregation or pinning a session-lifetime cache entry. */
  private def labelMeanBooks(emb: DataFrame, m: Int, dsub: Int): DataFrame = {
    val plan = (0 until m).map { sub =>
      emb.select(col("label"),
          posexplode(slice(col("embedding"), sub * dsub + 1, dsub))
            .as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(round(col("v") * 1e9).cast("long")) /
          (count(lit(1)) * lit(1e9))).as("c"))
        .groupBy(col("label"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("centroid"))
        .select(lit(sub).as("subspace"),
          col("label").cast("long").as("centroid_id"), col("centroid"))
    }.reduce(_ unionByName _)
    import scala.jdk.CollectionConverters._
    emb.sparkSession.createDataFrame(
      plan.collect().toSeq.asJava, plan.schema)
  }

  /** Two-stage retrieval ([[VectorOps.pqRerankTopK]]): ADC shortlist of
    * 15 over the same label-mean books as q65, exact-cosine re-rank to
    * top-5. The oracle replays both tiers, so the shortlist boundary AND
    * the re-rank order are pinned value-exactly. */
  def qPqRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val m = 2
    val books = labelMeanBooks(emb, m, 32)
    val codes = VectorOps.pqEncode(emb, books, m)
    VectorOps.pqRerankTopK(emb.filter(col("vec_id") < NumQueryVecs),
      codes, books, emb, m, TopK, Shortlist)
  }

  /** Cosine threshold for q104: the synthetic corpus has no true
    * semantic duplicates (see [[qEmbedNearDup]]), so the threshold is
    * set low enough that within-cluster neighbors qualify and the
    * drop/anchor path is exercised on a non-trivial fraction of rows. */
  val SemDedupMinCos = 0.2

  /** SemDedup ([[VectorOps.semDedup]]) over the label-centroid coarse
    * codebook: cluster-bounded semantic dedup — the scale path for
    * embedding near-dup (q33's SRP buckets are the hash-blocking
    * alternative; this is the codebook-blocking one, reusing the ANN
    * index). Oracle replays assignment (rounded-cosine argmax with
    * centroid-id tiebreak, the q60 convention) and the within-cluster
    * greedy keep-lowest-id pass value-exactly. */
  def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = labelCentroids(emb)
      .select(col("label").cast("long").as("centroid_id"), col("centroid"))
    VectorOps.semDedup(emb, centroids, SemDedupMinCos)
  }

  /** IVF ANN, oracle-gated: label-centroid codebook + full probe. At full
    * probe IVF is EXACTLY brute force (every corpus vector sits in one
    * probed list), so the brute-force DuckDB oracle pins the whole IVF
    * machinery — centroid assignment, probe selection, bucket join,
    * bounded top-k — value-for-value. The approximate tier (nprobe <
    * lists) is the same code path, spec-gated on recall. */
  def qIvfFullProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val centroids = labelCentroids(emb)
      .select(col("label").cast("long").as("centroid_id"), col("centroid"))
    val nLists = centroids.count().toInt
    VectorOps.ivfSearch(emb.filter(col("vec_id") < NumQueryVecs), emb,
      centroids, nLists, TopK)
  }

  /** Int8 scalar quantization of the embedding column: per-dimension
    * global min/max → affine quantize each component to [-128, 127] →
    * dequantize → per-vector reconstruction report (exact integer code
    * sum + L2 error). The standard 4× index-compression step before PQ
    * is worth its training cost; the report is what decides whether
    * int8 recall is acceptable for a corpus.
    *
    * Scale shape: the stats pass is a per-dim min/max aggregate
    * (map-side combinable, dim-sized result), the quantize pass is one
    * corpus scan with the dim-sized scale table broadcast — no shuffle
    * of vectors at all. Per-vector arithmetic folds sequentially in
    * array order, so doubles are bit-identical to the DuckDB oracle
    * evaluating the same fold (no rounding slop before the final
    * round). */
  def qInt8Quant(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val stats = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
    // one row: dim-ordered array of (mn, mx) — the broadcast scale table
    val scales = stats
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))),
        t => struct(t.getField("mn").as("mn"), t.getField("mx").as("mx")))
        .as("sc"))
    def rng(sc: org.apache.spark.sql.Column) =
      sc.getField("mx") - sc.getField("mn")
    emb.crossJoin(broadcast(scales))
      .withColumn("qarr", zip_with(col("embedding"), col("sc"), (v, sc) =>
        when(rng(sc) === 0, lit(0L)).otherwise(
          (floor((v.cast("double") - sc.getField("mn")) / rng(sc) * 255.0
            + 0.5) - 128).cast("long"))))
      .withColumn("deq", zip_with(col("qarr"), col("sc"), (qv, sc) =>
        (qv.cast("double") + 128.0) / 255.0 * rng(sc) + sc.getField("mn")))
      .select(col("vec_id"),
        aggregate(col("qarr"), lit(0L), (a, x) => a + x).as("q_sum"),
        round(sqrt(aggregate(
          zip_with(col("embedding"), col("deq"), (v, d) => {
            val e = v.cast("double") - d
            e * e
          }),
          lit(0.0), (a, x) => a + x)), 6).as("l2_err"))
  }

  /** Embedding outlier pruning: cosine of every vector to its OWN label
    * centroid, per-label exact moments over the 6-rounded decimal scores
    * (the q81 pattern — partial sums never reorder), and the rows more
    * than 2σ BELOW the label mean — the "CLIP-score filtering" shape of
    * multimodal curation: drop items that don't resemble their own
    * cluster before they pollute training.
    *
    * Scale shape: centroids and the per-label moment table are both
    * label-sized (broadcast); the corpus is scanned twice (score pass
    * feeds the moments, then the z filter) — at 100 TB the scored frame
    * is a stage boundary, so it is persisted once here rather than
    * recomputed per pass. */
  def qCentroidOutliers(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val scored = emb
      .join(broadcast(labelCentroids(emb)), "label")
      .select(col("vec_id"), col("label"),
        round(VectorOps.cosine(col("embedding"), col("centroid")), 6)
          .cast("decimal(18,6)").as("cosd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = scored.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(col("cosd")).as("s"),
        sum(col("cosd") * col("cosd")).as("ss"))
      .select(col("label"),
        (col("s").cast("double") / col("n")).as("mean"),
        sqrt((col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double") / col("n"))
          / col("n")).as("sd"))
    scored.join(broadcast(stats), "label")
      .filter(col("cosd").cast("double") < col("mean") - lit(2.0) * col("sd"))
      .select(col("vec_id"), col("label"),
        col("cosd").cast("double").as("cos_to_centroid"),
        round((col("cosd").cast("double") - col("mean")) / col("sd"), 6)
          .as("z"))
  }

  /** q197: MMR diversified re-rank ([[VectorOps.mmrRerank]]) — top-5
    * diverse picks per query from the cosine top-20 shortlist, λ=½. */
  def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.mmrRerank(emb.filter(col("vec_id") < NumQueryVecs), emb,
      shortlistK = 20, selectK = 5, lambda = 0.5)
  }

  /** Matryoshka prefix width for q219 (the coarse first-stage model:
    * first 16 of 64 dims = 1/4 the read bytes). */
  val MatryoshkaDims = 16

  /** q219: matryoshka retrieval drift ([[VectorOps.matryoshkaTopK]]) —
    * top-5 by prefix-16 cosine, rescored at full dimension. */
  def qMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.matryoshkaTopK(emb.filter(col("vec_id") < NumQueryVecs),
      emb, MatryoshkaDims, TopK)
  }

  /** q235: the d×d dimension-covariance matrix of the corpus
    * ([[VectorOps.covarianceMatrix]]) — the ORACLE-GATED input of
    * q220's (spec-gated) eigensolve: exact-decimal means, 9-rounded
    * centered products, map-side d(d+1)/2 collapse. */
  def qEmbedCov(s: SparkSession, dir: String): DataFrame =
    VectorOps.covarianceMatrix(Tables.embeddings(s, dir), "embedding")

  /** q220's projection axes: the top-2 principal components (+ corpus
    * mean) of the GATE corpus, trained once by the driver-side
    * power-iteration eigensolve ([[VectorOps.pcaComponents]], spec-gated
    * in Round5OpsSpec: orthonormality, descending eigenvalues, projected
    * variance ≈ eigenvalue) and frozen as literals — the train-once /
    * apply-everywhere split of a production feature pipeline, and what
    * lets the PROJECTION be oracle-gated: both engines consume these
    * exact doubles (shortest-roundtrip repr, bit-identical re-parse).
    * Regenerate with `runMain graft.tools.PcaAxesGen` if the gate corpus
    * changes. Generated from /root/testdata/sf0.01, eigenvalues
    * (0.02756800747286991, 0.02722117281617916). */
  val PcaMean: Seq[Double] = Seq(
    0.0021647098528000002, -0.0045477943518000006,
    0.0039301543832, -0.0047932010582, 0.0099430764654,
    0.007772532952, -0.0182313556936, 0.0092173550886,
    -0.0024274034132, -6.178791258000001E-4, 0.006436078069,
    0.0033540127826, -0.0026588912952000003, 0.0020540317016,
    -2.14566231E-4, 0.0059102492436, 0.0033342206662,
    0.0058261216774, -4.6127636859999996E-4,
    0.0012317155181999998, -0.0038391390437999997,
    0.0023021840660000003, 0.0041682651102, -0.008054586123,
    -0.0018911654608, 0.012808142674799999,
    -0.0015970649558000002, 0.010626326821399999,
    -0.0011532765744, 3.903653718E-4, 0.0056047214806,
    -0.0057926855616, 0.0083353002402, -0.006675379840199999,
    0.0051556277506, 0.0011771794048, -0.0053353315436,
    -0.0015937965722, -9.667016765999999E-4, -0.001140981934,
    -0.0017442115074, -0.011834114763400001, 3.13518199E-4,
    -5.631569664E-4, -0.0115205620262, 0.0038326135078000003,
    -5.980603072E-4, 0.0058902981894, -0.0037496611632,
    -0.0102644046166, 0.0093771524656, -0.0014819921878,
    0.0077700426944, -0.003917563282, 0.0047097826148,
    -0.0035772914303999997, 0.004773866848, -0.0024703639024,
    -0.004844514905, -0.0087211809562, -2.8116569380000003E-4,
    0.0050041847066, -0.0011590625964000001, -0.0132662225288)

  val PcaAxis1: Seq[Double] = Seq(
    -0.20958511566842153, -0.12007351052208366,
    0.03666394785059124, 0.012608987151948066,
    0.07411570944777528, 0.012991498299653665,
    0.08989973229420584, 0.28725636960088924,
    0.048847456561668175, 0.41376296996961354,
    0.06435849326438235, 0.18222906080126572, 0.06501797242411043,
    -0.03772612095177832, 0.17101089534538366,
    -0.1856952195070548, 0.08764303085124914,
    -0.16024281758916864, -0.029658776313532816,
    0.03262667220791686, 0.06091808096379626,
    -0.11101455821132106, -0.08404955241179382,
    -0.05266898312076135, 0.02185145281141282, 0.201252239214728,
    -0.037337773150134146, 0.1495140288483003,
    -0.17210018149351522, -0.004550578624670453,
    -0.05848820536866359, 0.06397786842173998, 0.2962588574244352,
    0.10562272086631738, -0.0323408569718494, 0.10343756964009593,
    0.043993307965993975, 0.061150862163192814,
    0.011379014571616972, 0.021360045088173435,
    -0.11668897844871427, 0.005088621629794398,
    -0.24025503176845506, 0.09732574875005295,
    -0.02986697218071737, -0.22343012508508805,
    0.00914891805659782, -0.08034220161918762,
    -0.08468424778534796, -0.11742697912442539,
    0.12187553917810869, 0.07322320205954776,
    -0.01731966942188413, 0.08175712827254632,
    -0.017150234344236633, -0.0669715173415939,
    -0.05293409783589946, -0.05152927017962618,
    0.058965759776433826, -0.09004176273536328,
    0.12273731160954378, 0.04986524933503006, -0.2181917916397245,
    -0.10129941032672558)

  val PcaAxis2: Seq[Double] = Seq(
    -0.0070413394498802925, -0.05626876046486261,
    -0.012797477661438787, -0.08802335690645786,
    0.173733540210605, 0.02494769237859267, 0.0767981608442325,
    -0.0698751109934987, 0.07828211710468884,
    0.034660362107931615, 0.10589243441710085,
    -0.015914864905841746, 0.01303665377383538,
    0.13305075649556136, 0.016194569613028304,
    0.03764397299966257, 0.1507137181796978, 0.3581090709865338,
    -0.05343749103683566, -0.04978872555237469,
    0.03321163487518314, 0.03592507033655494, 0.06368681652576166,
    -0.309131992248803, -0.2566702792470775, -0.23635938778656684,
    -0.02017955707611033, -4.5757799638875686E-5,
    -0.08775759534452965, -0.17550136350943857,
    -0.025679211317352787, -0.2161651031327866,
    0.03257740291898954, 0.06090886797054425, 0.03319803789139822,
    0.07926033771598448, 0.06108948741739536, 0.03518445291437856,
    0.1816525404244323, 0.04595393992810543, 6.156240240939408E-4,
    0.04870473532291337, -0.0660546259738561,
    -0.18014388546825322, 0.17387417802302763,
    -0.19039895456375308, -0.046486559702052406,
    0.14520890634403275, 0.11155470409465616,
    -0.11479757574963571, -0.15746376097562229,
    -0.08224659465216035, 0.014825903815088429,
    -0.016698261909591464, 0.23630446583405856,
    0.022759576360066903, -0.3033485313437158,
    0.016879996015128563, 0.13757647172186965,
    -0.12286683667977652, -0.08316820022418947,
    0.08782787588610934, -0.003215823259984582,
    -0.08019964867175239)
  /** q220: PCA projection ([[VectorOps.pcaProject]]) — every vector
    * scored on the frozen principal axes [[PcaAxis1]]/[[PcaAxis2]] of
    * the gate corpus (train-once literals; the eigensolve itself stays
    * spec-gated — see [[PcaMean]]). Fully oracle-gated: the projection
    * is a literal-axis dot product minus a literal offset, identical
    * sequential double folds in both engines. */
  def qPcaProject(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    VectorOps.pcaProject(emb, Seq("vec_id", "label"), "embedding",
        PcaMean.toArray, Array(PcaAxis1.toArray, PcaAxis2.toArray))
      .select(col("vec_id"), col("label"),
        round(col("pc1"), 6).as("pc1"), round(col("pc2"), 6).as("pc2"))
  }

  /** q246: mutual-nearest-neighbor pairs across labels
    * ([[VectorOps.mutualNeighborsAuto]]) — the bitext/alignment miner:
    * BANDED-SRP candidates, per-vector best cross-label partner,
    * mutual-only filter. Both knobs auto-sized to the corpus: planes
    * per band from [[VectorOps.autoPlaneCount]] (linear per-band
    * volume; pinned planes grew candidates ∝ n²/2^planes, 18.6× at
    * 10× data), band count from [[VectorOps.srpBandCountForPlanes]]
    * (flat candidate recall — single-table miner candidates decayed
    * 0.294 → 0.074 across 4k → 4M, r10 verdict #1). The oracle replays
    * both integer rules from COUNT(*). */
  def qMutualNeighbors(s: SparkSession, dir: String): DataFrame =
    VectorOps.mutualNeighborsAuto(Tables.embeddings(s, dir))

  // q268 margin mining: neighborhood size + margin threshold
  val MarginK = 3
  val MinMargin = 1.05

  /** q268: margin-criterion pair mining ([[VectorOps.marginMiningPairsAuto]],
    * Artetxe & Schwenk margin = cos / mean-of-side-neighborhood-avgs) —
    * the hubness-robust upgrade of q246's absolute-cosine mutual miner:
    * a pair qualifies by standing out from BOTH sides' candidate
    * neighborhoods, not by raw similarity. Same banded-SRP candidate
    * plan as q246 (flat-recall contract — the margin's neighborhood
    * averages must not be computed over a candidate set that vanishes
    * with n); the oracle replays the rank-≤ k neighborhood average and
    * the margin arithmetic value-exactly. */
  def qMarginMining(s: SparkSession, dir: String): DataFrame =
    VectorOps.marginMiningPairsAuto(Tables.embeddings(s, dir), MarginK,
      MinMargin)
}
