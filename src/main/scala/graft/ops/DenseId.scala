package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.graftsql.ColumnBridge
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic dense-integer id assignment (SURVEY.md §1.4, §2.5 W2).
  *
  * The reference assigns ids with Postgres sequences over not-yet-mapped
  * source ids (enhanced_synthea_to_omop.py:770-777,935-944). The observable
  * contract is: dense, unique, stable-given-input-order integers. We
  * strengthen it to *deterministic*: id = row_number under ORDER BY the
  * source key — reproducible across reruns and engines, which is
  * what the DuckDB oracle check requires (SURVEY.md §7.4 risk 1).
  *
  * NOT `monotonically_increasing_id()`: that is partition-layout-dependent
  * and non-reproducible.
  */
object DenseId {

  /** Global rank by key as the id — identical output to
    * `row_number()` over one global window (DenseIdSpec pins it), but no
    * global single-partition sort and — unlike the earlier formulations —
    * NO materialization of the input.
    *
    * Design: bucket bounds are derived from an explicit deterministic
    * 1-in-`sampleMod` xxhash sample of the key tuples (pass 1, column-
    * pruned to the keys), rows are assigned to buckets by a O(log P)
    * binary-search `when`-tree over those bound literals — a PURE
    * function of the row, so every pass agrees on the bucketing with no
    * shared state — per-bucket populations are an exact narrow aggregate
    * (pass 2, also key-pruned), and the single full-width pass computes
    * row_number within each bucket plus the bucket's cumulative offset
    * and carries it straight into the caller's sink. Global rank is
    * independent of where the bounds land (within-bucket rank +
    * earlier-bucket counts = global rank), so ids are byte-identical to
    * the global window regardless of sampling.
    *
    * History: a lazy shared-plan formulation relying on ReuseExchange
    * CORRUPTED ids when the rule didn't fire inside a larger query
    * (caught by the q06 oracle), and the r12 fix — an eager
    * localCheckpoint of the range-partitioned input — was safe but
    * materialized every gold table TWICE in the ETL (measured: ~200 s of
    * the 101.66M-row run's 322 s wall was checkpoint materialization
    * hiding between the table writes). Deterministic bounds remove the
    * shared-state problem instead of materializing around it: the
    * sampling-based RangePartitioner is nondeterministic ACROSS actions,
    * a hash-gated sample + literal bounds are not.
    *
    * Requirements: `orderBy` columns must be plain or `.asc` (ascending
    * nulls-first — the bound comparisons encode exactly that total
    * order); any other direction is rejected. The key should be unique
    * (ties split arbitrarily but the id SET is unchanged), and `df` must
    * be deterministic across executions — same contract the reference's
    * sequence assignment and the DuckDB oracle twin already require.
    * Buckets are capped at 1024: one bucket = one task at ~n/P rows;
    * past ~10^10 rows per call raise `sampleMod` to keep the collected
    * sample driver-sized. A caller-supplied `bucketBy` expression must
    * be non-null over the whole input (checked with a clear failure in
    * the counts pass). */
  def withDenseIdScalable(df: DataFrame, orderBy: Seq[Column],
                          idCol: String, numPartitions: Int = 0,
                          sampleMod: Long = 4096L,
                          bucketBy: Option[Column] = None): DataFrame = {
    val bk = bucketedWithStarts(df, orderBy, numPartitions, sampleMod,
      bucketBy)
    withDenseIdFromBucketed(bk, orderBy, idCol)
  }

  /** The bucket-assignment + cumulative-starts passes of
    * [[withDenseIdScalable]], exposed so a caller that ALSO needs the
    * total row count (q155's equi-depth tiling) reads it from the
    * counts pass this already runs instead of paying a separate
    * count() job over the input (r15, guide §1.2). */
  private[ops] final case class Bucketed(withBucket: DataFrame,
                                         startsMap: Column, total: Long)

  private[ops] def bucketedWithStarts(df: DataFrame, orderBy: Seq[Column],
                                      numPartitions: Int = 0,
                                      sampleMod: Long = 4096L,
                                      bucketBy: Option[Column] = None)
      : Bucketed = {
    val spark = df.sparkSession
    val parts = math.min(1024,
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions)

    // Bucket assignment: a caller-supplied monotone expression when one
    // exists (closed-form, zero extra passes), else the sampled-bounds
    // when-tree (one extra narrow pass).
    val bucketCol: Column = bucketBy match {
      case Some(b) => b.cast("int")
      case None =>
        val keyCols: Seq[Column] = orderBy.map(ColumnBridge.requireAscKey)
        val keyStruct =
          struct(keyCols.zipWithIndex.map { case (c, i) => c.as(s"c$i") }: _*)
        val keyFields =
          df.select(keyCols.zipWithIndex.map { case (c, i) =>
            c.as(s"c$i") }: _*).schema.fields
        // narrow bounds pass: deterministic hash-gated key sample, sorted
        // by the engine itself so driver-side ordering can't diverge from
        // Spark's struct ordering (asc nulls-first per field)
        val sample: Array[Row] = df.select(keyStruct.as("__did_k"))
          .filter(pmod(xxhash64(col("__did_k")), lit(sampleMod)) === 0)
          .sort(col("__did_k"))
          .collect().map(_.getStruct(0))
        def boundLit(r: Row): Column = struct(keyFields.zipWithIndex.map {
          case (f, i) =>
            val v = r.get(i)
            (if (v == null) lit(null) else lit(v)).cast(f.dataType)
              .as(f.name)
        }: _*)
        val m = sample.length
        val bounds: IndexedSeq[Row] =
          if (m == 0) IndexedSeq.empty
          else (1 until parts)
            .map(i => sample(((i.toLong * m) / parts).toInt))
            .distinct.toIndexedSeq
        // buckets 0..K; bounds(j) is the inclusive lower bound of bucket
        // j+1, selected by an O(log P) binary-search when-tree
        def bucketOf(lo: Int, hi: Int): Column =
          if (lo == hi) lit(lo)
          else {
            val mid = (lo + hi + 1) / 2
            when(keyStruct >= boundLit(bounds(mid - 1)),
              bucketOf(mid, hi)).otherwise(bucketOf(lo, mid - 1))
          }
        bucketOf(0, bounds.length)
    }
    val withBucket = df.withColumn("__did_bucket", bucketCol)

    // narrow counts pass: exact per-bucket populations → cumulative
    // starts, ascending bucket value = ascending key range (monotone)
    val counts = withBucket.groupBy(col("__did_bucket")).count()
      .collect().map { r =>
        require(!r.isNullAt(0),
          "withDenseIdScalable: bucketBy produced NULL for " +
            s"${r.getLong(1)} row(s) — the bucket expression must be " +
            "non-null over the whole input (e.g. a null leading key " +
            "from a caller not using the ETL's inner-joined maps)")
        (r.getInt(0), r.getLong(1))
      }.sortBy(_._1)
    val starts = counts.foldLeft((0L, List.empty[(Int, Long)])) {
      case ((acc, out), (b, c)) => (acc + c, (b, acc) :: out)
    }._2
    val startsMap =
      if (starts.isEmpty) map(lit(0), lit(0L))
      else map(starts.flatMap { case (b, st) =>
        Seq(lit(b), lit(st)) }: _*)
    Bucketed(withBucket, startsMap, counts.map(_._2).sum)
  }

  /** Full-width pass of [[withDenseIdScalable]] (the only one): within-
    * bucket rank + the bucket's cumulative start. */
  private[ops] def withDenseIdFromBucketed(bk: Bucketed,
                                           orderBy: Seq[Column],
                                           idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__did_bucket")).orderBy(orderBy: _*)
    bk.withBucket
      .withColumn(idCol, row_number().over(w).cast(LongType) +
        element_at(bk.startsMap, col("__did_bucket")))
      .drop("__did_bucket")
  }

  /** Closed-form monotone bucket expression for a key whose LEADING
    * column is a dense integer id in [1, n] (the ETL's person_id after
    * the id-map join): bucket = floor((id−1)·P / n). Monotone along any
    * (id, …) ordering, balanced when events spread across ids, and —
    * being a pure expression — needs NO bounds-sampling pass at all:
    * [[withDenseIdScalable]] with this `bucketBy` runs exactly one
    * narrow counts pass plus the single full-width pass. Double division
    * is safe here: IEEE division by a positive constant is monotone and
    * exact to well past 2^53 for (id·P) in any realistic range. */
  def denseLeadingIdBucket(idCol: Column, n: Long,
                           parts: Int): Column =
    floor(((idCol - 1L).cast("double") * parts) / math.max(1L, n))
      .cast("int")
}
