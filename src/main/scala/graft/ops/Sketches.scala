package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Approximate sketches — the scale tier of the exact aggregates the
  * engine already ships (q44 exact distinct counts). At 100 TB an exact
  * COUNT(DISTINCT) shuffles every distinct value; an HLL sketch shuffles
  * a fixed few-KB buffer per group×partition. Sketches here are
  * mergeable partial aggregates (map-side combine for free) — the exact
  * forms remain the oracle-checkable tier, these are the ones a 1000-
  * executor job actually runs first.
  */
object Sketches {

  /** Explicit bloom-prune for a selective join: build a bloom filter over
    * the dim side's keys (driver-held, ~`fpp`-sized bits), then filter the
    * fact side BEFORE its shuffle. False positives only — no fact row
    * that joins is ever dropped, so `prunedFact.join(dim)` is exactly
    * `fact.join(dim)` with less shuffle I/O.
    *
    * Complements the automatic runtime bloom filter (enabled in
    * [[graft.core.Sessions]]) for cases the optimizer won't inject —
    * e.g. the dim side is an arbitrary DataFrame, not a filtered scan.
    * The membership test is a deserialized function call (not codegen);
    * worth it only when selectivity is high — measure. */
  def bloomPrune(fact: DataFrame, factKey: Column, dimKeys: DataFrame,
                 expectedDim: Long, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, LongType, ShortType,
      ByteType, StringType}
    val keyName = dimKeys.columns.head
    val factType = fact.select(factKey).schema.head.dataType
    val dimType = dimKeys.schema(keyName).dataType
    // build and probe must hash IDENTICALLY: the bloom is built with
    // putString for string dims and putLong for integral dims, so a
    // string/integral mismatch between the two sides (which a real join
    // would cast-reconcile, '42' = 42L) tests against different hash
    // inputs and silently DROPS joining fact rows — a false negative,
    // the one failure mode this operator promises not to have. Fail
    // fast instead of returning a wrong join input.
    def clazz(t: org.apache.spark.sql.types.DataType): String = t match {
      case StringType => "string"
      case ByteType | ShortType | IntegerType | LongType => "integral"
      case other => other.simpleString
    }
    require(clazz(factType) == clazz(dimType) &&
        (clazz(factType) == "string" || clazz(factType) == "integral"),
      s"bloomPrune key types must agree (string with string, integral " +
        s"with integral); got fact=$factType dim=$dimType for dim " +
        s"column '$keyName'")
    val bloom = dimKeys.stat.bloomFilter(keyName, expectedDim, fpp)
    val spark = fact.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    // The probe is a Scala UDF closure BY NECESSITY: Spark's codegen'd
    // probe expression (BloomFilterMightContain) sits in a private
    // package and is only planner-injected for runtime filters, and
    // might_contain is likewise not exposed through the public function
    // registry — there is no public codegen path to probe a driver-built
    // BloomFilter. Cost of the closure vs the saving it buys is measured
    // in SCALE.md's "Bloom prune" record: the probe removes
    // ~80% of fact-side shuffle volume at the q59 shape but only wins
    // wall-clock once shuffle is network-bound, so keep the automatic
    // runtime bloom filter as the default and reach for this only on a
    // measured shuffle bottleneck.
    // type-matched membership probe: a long key through the string path
    // (or vice versa) would hash differently and break the no-false-
    // negative guarantee; string keys also must never be ANSI-cast to long
    val isString = factType == StringType
    if (isString) {
      val mc = udf((k: String) => k != null && bloomBc.value.mightContain(k))
      fact.filter(mc(factKey))
    } else {
      val mc = udf((k: java.lang.Long) =>
        k != null && bloomBc.value.mightContainLong(k))
      fact.filter(mc(factKey.cast("long")))
    }
  }

  /** KMV (k-minimum-values) distinct-count sketch result: the k-th
    * smallest distinct hash (None when fewer than k distinct values were
    * seen), how many of the k slots are filled, and the distinct-count
    * estimate. */
  case class KmvState(kth_hash: Option[Long], n_kept: Int,
                      est_distinct: Long)

  /** Bounded sorted buffer of the k smallest DISTINCT hash values.
    * TreeSet dedups and orders; kryo-encoded like [[MgBuffer]] — it only
    * serializes at the shuffle boundary. */
  class KmvBuffer(val set: java.util.TreeSet[java.lang.Long])
      extends Serializable

  /** KMV bottom-k distinct sketch over already-hashed values in
    * [0, [[graft.functions.PolyHashFn.Mod]]): keep the k smallest
    * distinct hashes; estimate distinct = (k−1)·Mod / h_k (the classic
    * bottom-k estimator on a [0, Mod) hash domain, integer division so
    * the DuckDB oracle reproduces it bit-exactly). O(k) mergeable state —
    * the shuffle carries one k-entry set per partition×group, never the
    * distinct values themselves, and sketches for different corpus
    * shards union into the sketch of the union (how a 1000-executor job
    * estimates per-source vocabulary in one pass). Deterministic under
    * any partitioning: bottom-k of a set is partition-order-invariant. */
  class Kmv(k: Int)
      extends Aggregator[Long, KmvBuffer, KmvState] with Serializable {
    require(k >= 2, s"sketch capacity must be >= 2, got $k")

    def zero: KmvBuffer = new KmvBuffer(new java.util.TreeSet)

    def reduce(b: KmvBuffer, h: Long): KmvBuffer = {
      val s = b.set
      if (s.size < k) s.add(h)
      else if (h < s.last.longValue) { // strict: equal = already present
        if (s.add(h)) s.pollLast()
      }
      b
    }

    def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer = {
      a.set.addAll(b.set)
      while (a.set.size > k) a.set.pollLast()
      a
    }

    def finish(r: KmvBuffer): KmvState = kmvEstimate(r.set, k)

    def bufferEncoder: Encoder[KmvBuffer] = Encoders.kryo[KmvBuffer]
    def outputEncoder: Encoder[KmvState] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** The bottom-k estimator the [[Kmv]] Aggregator finishes with. */
  private def kmvEstimate(set: java.util.TreeSet[java.lang.Long],
                  k: Int): KmvState =
    if (set.size < k) KmvState(None, set.size, set.size.toLong)
    else {
      val kth = set.last.longValue
      KmvState(Some(kth), k,
        (k - 1).toLong * graft.functions.PolyHashFn.Mod /
          math.max(kth, 1L))
    }

  /** Per-group KMV distinct estimate over a long hash column: returns
    * (group, kth_hash, n_kept, est_distinct). Null hashes are not values
    * and are excluded (mirrors [[frequentItems]]'s null stance). */
  def kmvDistinct(df: DataFrame, groupCol: String, hashCol: Column,
                  k: Int): DataFrame = {
    val sk = udaf(new Kmv(k), Encoders.scalaLong)
    df.filter(hashCol.isNotNull)
      .groupBy(col(groupCol))
      .agg(sk(hashCol).as("s"))
      .select(col(groupCol), col("s.kth_hash").as("kth_hash"),
        col("s.n_kept").as("n_kept"),
        col("s.est_distinct").as("est_distinct"))
  }

  /** Misra–Gries heavy-hitter sketch result: bounded candidate counters
    * plus the total number of items folded in. */
  case class MgState(counts: Map[String, Long], total: Long)

  /** Mutable aggregation buffer (kryo-encoded — it only serializes at
    * the shuffle boundary; within a partition the same object mutates in
    * place, so the hot path allocates nothing per row). Values are boxed
    * java.lang.Long ON PURPOSE: a primitive-Long map would silently
    * unbox a missing key's null to 0. */
  class MgBuffer(val counts: java.util.HashMap[String, java.lang.Long],
                 var total: Long) extends Serializable

  /** Misra–Gries frequent-items sketch with capacity `k`: one pass,
    * O(k) memory per partition, mergeable (partial aggregation applies).
    * Guarantee: every item with true frequency > total/(k+1) is present
    * in the final candidate set — no false negatives above that bar;
    * counts are under-estimates, so callers recount exactly (see
    * [[frequentItems]]). The decrement-all pass is O(k) but amortized
    * O(1) per item: total decrement work never exceeds total insert
    * work. */
  class MisraGries(k: Int)
      extends Aggregator[String, MgBuffer, MgState] with Serializable {
    require(k >= 1, s"sketch capacity must be >= 1, got $k")

    def zero: MgBuffer = new MgBuffer(new java.util.HashMap, 0L)

    def reduce(b: MgBuffer, item: String): MgBuffer = {
      val c = b.counts
      val n = c.get(item) // null when absent (boxed access)
      if (n ne null) c.put(item, java.lang.Long.valueOf(n.longValue + 1))
      else if (c.size < k) c.put(item, java.lang.Long.valueOf(1L))
      else {
        // full and item absent: decrement every counter, dropping zeros
        val it = c.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val v = e.getValue.longValue
          if (v > 1) e.setValue(java.lang.Long.valueOf(v - 1))
          else it.remove()
        }
      }
      b.total += 1
      b
    }

    def merge(a: MgBuffer, b: MgBuffer): MgBuffer = {
      val it = b.counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val prev = a.counts.get(e.getKey)
        val sum = if (prev eq null) e.getValue.longValue
                  else prev.longValue + e.getValue.longValue
        a.counts.put(e.getKey, java.lang.Long.valueOf(sum))
      }
      if (a.counts.size > k) {
        // subtract the (k+1)-th largest count from all (the merge-side
        // analogue of the decrement step), drop non-positive
        import scala.jdk.CollectionConverters._
        val cut = a.counts.values.asScala.map(_.longValue).toSeq
          .sorted(Ordering[Long].reverse)(k)
        val jt = a.counts.entrySet().iterator()
        while (jt.hasNext) {
          val e = jt.next()
          val v = e.getValue.longValue
          if (v > cut) e.setValue(java.lang.Long.valueOf(v - cut))
          else jt.remove()
        }
      }
      a.total += b.total
      a
    }

    def finish(r: MgBuffer): MgState = {
      import scala.jdk.CollectionConverters._
      MgState(r.counts.asScala.map { case (t, n) => t -> n.longValue }.toMap,
        r.total)
    }
    def bufferEncoder: Encoder[MgBuffer] = Encoders.kryo[MgBuffer]
    def outputEncoder: Encoder[MgState] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Exact frequent items at scale, classic two-pass plan:
    * pass 1 folds the whole column into one O(k) Misra–Gries sketch
    * (map-side partial merge — the shuffle carries one small Map per
    * partition, never per-item rows); pass 2 recounts ONLY the ≤k
    * candidates exactly and keeps those at or above `minFrac` of the
    * total. Because the sketch has no false negatives above total/(k+1)
    * and the recount is exact, the result equals the naive
    * group-everything-and-filter plan — without ever shuffling the long
    * tail. Requires minFrac > 1/(k+1) for that guarantee.
    *
    * Output: (item, n, frac) for items with n >= ceil(total * minFrac). */
  def frequentItems(items: DataFrame, itemCol: String,
                    minFrac: Double, k: Int): DataFrame = {
    require(minFrac > 1.0 / (k + 1),
      s"minFrac=$minFrac below sketch guarantee 1/(k+1)=${1.0 / (k + 1)}; " +
        "raise k or minFrac")
    val spark = items.sparkSession
    import spark.implicits._
    // nulls are not items: they would crash the Map-key serialization and
    // a null "token" has no frequency semantics — excluded from both
    // passes AND from the total
    val nonNull = items.filter(col(itemCol).isNotNull)
    val col0 = col(itemCol)
    val sketch = nonNull.select(col0.as[String](Encoders.STRING))
      .select(new MisraGries(k).toColumn).head()
    val threshold = math.ceil(sketch.total * minFrac).toLong
    val candidates = sketch.counts.keys.toSeq
    nonNull.filter(col0.isin(candidates: _*))
      .groupBy(col0.as("item"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
      .withColumn("frac",
        round(col("n").cast("double") / lit(sketch.total.toDouble), 6))
  }

  /** EXACT distinct counting via bucketed bitmaps — the bitmap-index
    * rollup (roaring-bitmap shape, flattened to 64-bit words): keys
    * bucket by `key div 64`, each (group, bucket) folds to one long
    * bitmask with `bit_or(1 << (key mod 64))`, and the distinct count is
    * the sum of popcounts. Two cascaded aggregations, both with map-side
    * partial merge (bit_or and sum are commutative monoids), so the
    * first shuffle carries at most one LONG per (group, 64-key bucket) —
    * a ≥64× reduction over shuffling raw keys the way count(distinct)
    * must — and the masks MERGE across shards/days by bit_or, giving
    * exact incremental distinct maintenance (the thing HLL can only
    * approximate). Requires a non-negative integer key domain.
    *
    * Output: (group, n_buckets, distinct_keys). */
  def bitmapDistinct(df: DataFrame, groupCol: String,
                     keyCol: String): DataFrame =
    df.filter(col(keyCol).isNotNull)
      .select(col(groupCol),
        (col(keyCol).cast("long") / 64L).cast("long").as("__bucket"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod($keyCol, 64) AS INT))")
          .as("__bit"))
      .groupBy(col(groupCol), col("__bucket"))
      .agg(bit_or(col("__bit")).as("__mask"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_buckets"),
        sum(bit_count(col("__mask")).cast("long")).as("distinct_keys"))

  /** Mergeable APPROXIMATE distinct via Apache DataSketches HLL (Spark's
    * native `hll_sketch_agg` / `hll_union_agg`): per-group sketches plus
    * the all-groups union, with estimates. This is the scale tier above
    * [[bitmapDistinct]]: state is O(2^lgK) REGARDLESS of key domain or
    * type, and union-of-sketches ≡ sketch-of-union exactly (the
    * mergeability law HllSketchSpec pins), so per-shard sketches roll up
    * across days/sources without touching raw keys again. Deterministic
    * for a given input SET (hash-based, order-free) but engine-specific
    * — correctness is spec-gated against exact counts (bounded relative
    * error) and the merge law, not a DuckDB oracle.
    *
    * Output: (group, est_distinct) per group plus one "__all__" row for
    * the union rollup. */
  def hllRollup(df: DataFrame, groupCol: String, keyCol: String,
                lgK: Int = 12): DataFrame = {
    val perGroup = df.filter(col(keyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("__sk"))
      // the rollup label is RESERVED: a data group literally named
      // "__all__" would silently alias the union row. Guard on the
      // per-group frame (|groups| rows, post-aggregation — no scan
      // cost), failing the job instead of shipping an ambiguous result.
      .withColumn(groupCol, when(col(groupCol) === lit(AllLabel),
        raise_error(lit(s"hllRollup: data group collides with the " +
          s"reserved rollup label '$AllLabel' in column '$groupCol'")))
        .otherwise(col(groupCol)))
    val union = perGroup
      .agg(hll_union_agg(col("__sk")).as("__sk"))
      .select(lit(AllLabel).as(groupCol), col("__sk"))
    perGroup.unionByName(union)
      .select(col(groupCol),
        hll_sketch_estimate(col("__sk")).cast("long").as("est_distinct"))
  }

  /** Count–min sketch row hash for `key`: the sampleHash family
    * (poly_hash ∘ Knuth remix — shared arithmetic with the DuckDB
    * oracle twin) salted per sketch row, folded into `width` buckets. */
  def cmsBucket(key: Column, row: Column, width: Int): Column =
    pmod(TextOps.polyHash(concat(key.cast("string"), lit("#cms"),
      row.cast("string")))
      * Sampling.Mixer % TextOps.HashMod, lit(width))

  /** Count–min sketch (Cormode–Muthukrishnan) of per-key frequencies,
    * built RELATIONALLY: the sketch IS a (row, bucket, count) frame of
    * `depth`×`width` rows produced by one hash aggregate over the
    * `depth`-exploded key stream — map-side combine collapses each
    * partition to ≤ depth·width partial rows, so the shuffle is
    * sketch-sized (KBs) regardless of input rows, the same reason a
    * custom UDAF buys nothing here. Deterministic salted-polyhash rows
    * make the sketch REPRODUCIBLE and oracle-checkable (no engine-
    * private hashing), and two sketches built with the same (depth,
    * width) merge by adding counts per cell — the distributed-rollup
    * law SketchesSpec pins. */
  def countMinSketch(df: DataFrame, keyCol: Column,
                     depth: Int = 4, width: Int = 64): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth out of [1,8]: $depth")
    require(width >= 2, s"width < 2: $width")
    df.select(keyCol.as("__k"))
      .select(col("__k"),
        explode(array((0 until depth).map(lit): _*)).as("row"))
      .groupBy(col("row"),
        cmsBucket(col("__k"), col("row"), width).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a [[countMinSketch]]: for each distinct key,
    * min over rows of its bucket's count — ≥ the true count ALWAYS
    * (cells only ever over-count; the spec pins the one-sided bound).
    * The sketch side of the probe join is depth·width rows, broadcast;
    * the key side is the distinct-key frame. Output per key: the
    * estimate and the true count for audit. */
  def countMinEstimate(df: DataFrame, keyCol: Column,
                       depth: Int = 4, width: Int = 64): DataFrame = {
    val sketch = countMinSketch(df, keyCol, depth, width)
    val exact = df.select(keyCol.as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("n_exact"))
    exact
      .select(col("key"), col("n_exact"),
        explode(array((0 until depth).map(lit): _*)).as("row"))
      .withColumn("bucket", cmsBucket(col("key"), col("row"), width))
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("key"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .select(col("key"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
  }

  /** Equi-join cardinality estimate from two [[countMinSketch]]es
    * (AGMS/CM inner product, Cormode–Muthukrishnan §4.2): per sketch
    * row, Σ_bucket cntA·cntB ≥ Σ_key fA(k)·fB(k) = |A ⋈ B| (hash
    * collisions only ADD cross terms), and the estimate is the min
    * over rows — the join-size statistic a planner wants BEFORE paying
    * the join, from two sketch-sized (depth·width-row) frames that
    * were built with one pass over each side. The sketch join itself
    * touches 2·depth·width rows — driver-trivial at any corpus size;
    * both sides must share (depth, width) and the salt family (they
    * do, by construction).
    *
    * SIZING: expected overcount per row ≈ (Σf_A · Σf_B − true)/width,
    * so width must be ≳ |A|·|B| / (ε · true-join-size) for relative
    * error ε — point queries get away with width 64; inner products
    * need thousands (q252 uses 8192 and measures the residual). A
    * too-narrow sketch degrades GRACEFULLY to an upper bound (never
    * under), which is the safe direction for a planner deciding
    * whether a join is broadcastable.
    *
    * Output: one row — (n_rows = depth, est = the min inner product).
    * The one-sided bound est ≥ true size is spec-pinned; the oracle
    * (q252) carries the exact size for audit. */
  def cmsJoinSize(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                  depth: Int = 4, width: Int = 64): DataFrame = {
    val sa = countMinSketch(a, keyA, depth, width)
      .withColumnRenamed("cnt", "__ca")
    val sb = countMinSketch(b, keyB, depth, width)
      .withColumnRenamed("cnt", "__cb")
    sa.join(sb, Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("__ca") * col("__cb")).as("__ip"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        min(col("__ip")).cast("long").as("est"))
  }

  // ---- deterministic relational HLL (the oracle-checkable HLL tier) ----

  /** Register-index bits of the relational HLL: m = 2^9 = 512 registers
    * (standard error 1.04/√512 ≈ 4.6%). The [[TextOps.polyHash]] domain
    * is [0, 1e9+7) ⊂ [0, 2^30), so after peeling `HllP` bucket bits the
    * rank field has 30 − 9 = 21 usable bits ([[HllWBits]]). */
  val HllP = 9
  val HllM: Int = 1 << HllP
  val HllWBits: Int = 30 - HllP

  /** Exponent scale that turns the harmonic sum Σ 2^−M into an EXACT
    * integer: Σ 2^(HllLog2Scale − M) (M ≤ 22 < 50 always). Worst case
    * 512·2^50 = 2^59 < 2^63 — no BIGINT overflow on either engine. */
  val HllLog2Scale = 50
  val HllScale: Long = 1L << HllLog2Scale

  /** Flajolet et al. 2007 bias constant for m = 512, pre-multiplied into
    * the raw-estimate numerator α·m²·2^50 so BOTH engines consume ONE
    * decimal literal (a runtime α·m²·scale product could differ in the
    * last ulp between evaluation orders — the q226 lesson). */
  val HllAlpha: Double = 0.7213 / (1.0 + 1.079 / HllM)
  val HllNumerator: Double =
    HllAlpha * HllM.toDouble * HllM.toDouble * HllScale.toDouble

  /** Reserved rollup-row label shared by [[hllRollup]] and
    * [[hllRelational]]; both guard against a data group carrying this
    * exact value (ADVICE r7 — silent union-row aliasing). */
  val AllLabel = "__all__"

  /** Linear-counting ln lookup: ln(m/z) for z = 1..m, 9-rounded ONCE on
    * the driver and rendered as decimal strings both engines parse (a
    * 9-decimal literal parses to the identical double under correctly-
    * rounded strtod everywhere). A runtime `ROUND(ln(x), 9)` on each
    * engine risks the last-ulp boundary: when ln(m/z) sits within one
    * ulp of a 9th-decimal rounding boundary, two libm implementations
    * can round to DIFFERENT 9-decimal values — the only remaining
    * cross-engine float hazard in the estimator (ADVICE r7). The domain
    * is finite (n_zero ∈ [1, m]), so a literal table removes the libm
    * dependency entirely. */
  val HllLnLiterals: IndexedSeq[String] = (1 to HllM).map { z =>
    java.math.BigDecimal.valueOf(math.log(HllM.toDouble / z))
      .setScale(9, java.math.RoundingMode.HALF_UP).toPlainString
  }

  /** The table as a Spark 1-indexed array literal (element_at(arr, z)
    * reads ln(m/z)) — m doubles folded into the plan, evaluated only on
    * per-group rows. */
  def hllLnArray: Column =
    array(HllLnLiterals.map(s => lit(s.toDouble)): _*)

  /** The same table as a DuckDB list literal (1-indexed: `(list)[z]`),
    * byte-identical decimal strings to what the Spark side parsed. */
  def hllLnListSql: String = HllLnLiterals.mkString("[", ", ", "]")

  /** Rank-of-first-set-bit CASE over the `wBits`-wide rank field, as SQL
    * TEXT shared verbatim by the Spark side (`expr`) and the DuckDB
    * oracle — pure integer comparisons, no float log2 (whose 1-ulp slop
    * at exact powers of two could flip a register between engines).
    * w ∈ [2^(wBits−r), 2^(wBits−r+1)) ⇒ rho = r; w = 0 ⇒ wBits+1. */
  def hllRhoSql(wExpr: String, wBits: Int = HllWBits): String =
    (1 to wBits).map(r =>
      s"WHEN $wExpr >= ${1L << (wBits - r)} THEN $r")
      .mkString("CASE ", " ", s" ELSE ${wBits + 1} END")

  /** NONLINEAR finalizer over a [[TextOps.polyHash]] value, shared SQL
    * text for both engines: mid-square then affine,
    * ((h² mod P)·K1 + K2) mod P.
    *
    * Why the square is load-bearing: HLL reads bucket AND rank bits off
    * one hash, and the poly hash of short/structured keys (decimal ids,
    * sequential codes) occupies a low-bit LATTICE — h is ~31^len·c, so
    * high rank bits are systematically empty. Every AFFINE remix
    * (h·K mod P, the minhash family) preserves that lattice exactly —
    * measured: +417% estimate error on 3k sequential ids with no mix,
    * −33% with the Knuth multiply alone. Squaring is the cheapest
    * nonlinearity both engines evaluate identically in BIGINT
    * ((h² < 2^60, then ·K1 < 2^62 — no overflow under ANSI); with it the
    * raw-tier error sits inside ±11% across 100–20k ids (≈ 2σ of the
    * 1.04/√512 bound; the truncated [0,P) rank domain contributes a
    * known ≈ +4% of it). */
  def hllMixSql(hExpr: String): String =
    s"(($hExpr * $hExpr) % ${TextOps.HashMod} * ${Sampling.Mixer}" +
      s" + 2246822519) % ${TextOps.HashMod}"

  /** Deterministic HLL distinct rollup over a shared-family hash column
    * (caller supplies [[TextOps.polyHash]] output — the same replayable
    * hash the KMV/minhash/CMS tiers use; it is finalized through the
    * nonlinear [[hllMixSql]] internally, see there): per-group register
    * frames, the
    * "__all__" union row via per-register MAX (the HLL merge law,
    * expressed RELATIONALLY — union-of-sketches ≡ sketch-of-union is a
    * groupBy(bucket).max, visible to the oracle instead of buried in
    * binary sketch state), and the standard estimator in cross-engine-
    * exact arithmetic: integer registers, an integer-scaled harmonic sum,
    * one literal numerator, and linear counting below 2.5·m with the ln
    * read from the shared literal table [[HllLnLiterals]] (no runtime
    * libm ln on either engine) then scaled by m = 512 (a power of two,
    * so the multiply is float-EXACT on both engines).
    *
    * Scale shape: the shuffle carries ≤ m rows per group (register
    * partials, map-side combinable) regardless of input rows — the same
    * O(k)-state contract as the datasketches tier [[hllRollup]], which
    * remains the production spelling (6-bit packed registers, lgK up to
    * 21); this tier exists because its every intermediate is a BIGINT a
    * DuckDB oracle can recompute, so the correctness gate covers the
    * whole estimator, not just rows/schema.
    *
    * Output: (group, n_zero, harm_scaled, est_distinct) per group plus
    * one "__all__" union row. n_zero and harm_scaled are integer-exact
    * register summaries (they pin the sketch, not just the estimate). */
  def hllRelational(df: DataFrame, groupCol: String,
                    hashCol: Column): DataFrame = {
    val regs = df.filter(hashCol.isNotNull)
      .select(col(groupCol).as("__g"), hashCol.as("__h0"))
      .select(col("__g"), expr(hllMixSql("__h0")).as("__h"))
      .select(col("__g"),
        col("__h").bitwiseAND(lit((HllM - 1).toLong)).as("__b"),
        shiftright(col("__h"), HllP).as("__w"))
      .select(col("__g"), col("__b"), expr(hllRhoSql("__w")).as("__rho"))
      .groupBy(col("__g"), col("__b"))
      .agg(max(col("__rho")).as("__m"))
      // reserved-label guard on the post-aggregation register frame
      // (≤ m rows per group — no scan-path cost); see [[hllRollup]]
      .withColumn("__g", when(col("__g") === lit(AllLabel),
        raise_error(lit(s"hllRelational: data group collides with the " +
          s"reserved rollup label '$AllLabel' in column '$groupCol'")))
        .otherwise(col("__g")))
    // merge law as relational algebra: the union sketch's register j is
    // max over groups of register j — one bucket-domain aggregate
    val union = regs.groupBy(col("__b")).agg(max(col("__m")).as("__m"))
      .select(lit(AllLabel).as("__g"), col("__b"), col("__m"))
    val stats = regs.unionByName(union)
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__occ"),
        sum(expr(
          s"shiftleft(CAST(1 AS BIGINT), CAST($HllLog2Scale - __m AS INT))"))
          .as("__hocc"))
      .select(col("__g"),
        (lit(HllM.toLong) - col("__occ")).as("n_zero"),
        (col("__hocc") +
          (lit(HllM.toLong) - col("__occ")) * lit(HllScale)).as("harm_scaled"))
    val raw = lit(HllNumerator) / col("harm_scaled").cast("double")
    stats.select(col("__g").as(groupCol), col("n_zero"), col("harm_scaled"),
      when(raw <= lit(2.5 * HllM) && col("n_zero") > 0,
        round(lit(HllM.toDouble) *
          element_at(hllLnArray, col("n_zero").cast("int")), 6))
        .otherwise(round(raw, 6)).as("est_distinct"))
  }
}
