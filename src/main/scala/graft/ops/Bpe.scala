package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational BPE (byte-pair-encoding) merge training — the tokenizer-
  * construction step of a training-data pipeline, run as a sequence of
  * vocabulary-sized Spark aggregations.
  *
  * Scale design: the corpus is touched ONCE (tokenize → word-frequency
  * table); every merge round after that runs on the VOCABULARY table
  * (symbol array, word count) — vocab-sized, not corpus-sized, which is
  * exactly how production BPE trainers stay tractable. Each round is one
  * map-side-combinable pair-count aggregation (shuffle carries (pair,
  * partial count)), a single-row argmax collect, and a narrow per-word
  * fold applying the merge; `localCheckpoint` truncates lineage per round
  * like the [[Components]] fixpoint. Tie-break (count desc, then left/
  * right symbol ascending) makes training fully deterministic under any
  * partitioning.
  */
object Bpe {

  /** One learned merge: rank (1-based round), the two symbols joined,
    * and the pair's frequency at merge time. */
  case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Train `numMerges` merges over the whitespace words of `textCol`.
    * Stops early if no adjacent pair remains.
    *
    * The corpus is folded into its word-frequency table by ONE
    * distributed aggregation. A vocabulary of at most 2^17 rows runs the
    * merge rounds in the driver twin behind [[graft.core.LocalGate]]:
    * the identical recurrence (same pair counts, same count-desc /
    * left-asc / right-asc tie-break in UTF8 binary order, same
    * non-overlapping left-to-right merge). Vocabularies are Heaps-law
    * sublinear in corpus size but NOT schema-sized, so the distributed
    * fixpoint stays the over-budget path. */
  def train(docs: DataFrame, textCol: String, numMerges: Int): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    // one corpus pass: word frequencies, then chars as the seed symbols;
    // persisted so the gate's probe and either path read it once
    val wordFreq = docs
      .select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val local = graft.core.LocalGate.rows(wordFreq, LocalRows, "bpe")
    if (local.nonEmpty) {
      wordFreq.unpersist(blocking = false)
      return trainLocal(local.get.map(r => (r.getString(0), r.getLong(1))),
        numMerges)
    }
    var vocab = wordFreq
      .select(split(col("w"), "").as("syms"), col("n"))
      .localCheckpoint(true)
    wordFreq.unpersist(blocking = false)
    val merges = ArrayBuffer.empty[Merge]
    var exhausted = false
    for (r <- 1 to numMerges if !exhausted) {
      val pairCounts = vocab
        .filter(size(col("syms")) >= 2)
        .select(explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (a, b) => struct(a.as("l"), b.as("r")))).as("p"), col("n"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n")).as("c"))
      val top = pairCounts
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val l = top(0).getString(0)
        val rt = top(0).getString(1)
        val c = top(0).getLong(2)
        merges += Merge(r, l, rt, c)
        val next = vocab
          .select(applyMerge(col("syms"), l, rt).as("syms"), col("n"))
          .localCheckpoint(true)
        vocab.unpersist()
        vocab = next
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** Vocabulary rows the driver twin takes. */
  private val LocalRows = 1 << 17

  /** Driver-side twin of the distributed merge loop — IDENTICAL
    * recurrence so the size gate is invisible to callers:
    * seed symbols via the same regex split the Column form uses
    * (`UTF8String.split`, pattern ""), pair counts summed as longs,
    * argmax tie-break (count desc, left asc, right asc) in UTF8String
    * BINARY order (Spark's string ordering — `String.compareTo` is
    * UTF-16 code-unit order and diverges on supplementary characters),
    * and the same non-overlapping left-to-right merge fold. */
  private def trainLocal(wordFreq: Array[(String, Long)],
                         numMerges: Int): Seq[Merge] = {
    import org.apache.spark.unsafe.types.UTF8String
    val empty = UTF8String.fromString("")
    var vocab: Array[(Array[String], Long)] = wordFreq.map { case (w, n) =>
      (UTF8String.fromString(w).split(empty, -1).map(_.toString), n)
    }
    def bin(a: String, b: String): Int =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    val merges = ArrayBuffer.empty[Merge]
    var exhausted = false
    for (r <- 1 to numMerges if !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, rt), c) = counts.minBy(identity)(Ordering.fromLessThan {
          case (((l1, r1), c1), ((l2, r2), c2)) =>
            if (c1 != c2) c1 > c2 // count desc
            else {
              val lc = bin(l1, l2)
              if (lc != 0) lc < 0 else bin(r1, r2) < 0
            }
        })
        merges += Merge(r, l, rt, c)
        vocab = vocab.map { case (syms, n) =>
          if (syms.length < 2) (syms, n)
          else {
            val out = ArrayBuffer.empty[String]
            syms.foreach { x =>
              if (out.nonEmpty && out.last == l && x == rt) {
                out(out.length - 1) = l + rt // freshly-merged never re-matches
              } else out += x
            }
            (out.toArray, n)
          }
        }
      }
    }
    merges.toSeq
  }

  /** One merge applied left-to-right, non-overlapping: fold symbols,
    * replacing a trailing `l` with `l+r` when the next symbol is `r` (a
    * freshly-merged symbol never re-matches `l`, so "aaa" under (a,a)
    * becomes [aa, a], as BPE defines it). Pure Column expression — the
    * merge pair is a literal, so the fold stays inside codegen. */
  private[graft] def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      array().cast("array<string>"),
      (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** The merge list applied to one word column via the native
    * `bpe_segment` kernel ([[graft.functions.BpeSegment]]): the table
    * rides as a foldable literal consumed at function-build time, so
    * generated code size is CONSTANT in the merge count. The old nested
    * literal folds (one expression layer per merge) were the exact
    * 64 KB-codegen-wall disease r10 diagnosed in the SRP tier — at a
    * production tokenizer's 32k merges both Catalyst analysis cost and
    * generated method size explode (r10 verdict #2); the kernel is
    * spec-pinned bit-identical to the fold form (Round11Spec). */
  def segment(word: Column, merges: Seq[Merge]): Column =
    call_function("bpe_segment", word,
      typedLit(merges.sortBy(_.rank).map(m => (m.left, m.right))))

  /** Apply a learned merge list (the tokenizer ENCODE step): per-doc
    * subword counts under the trained vocabulary. Words explode once
    * and pre-aggregate to per-(doc, word) counts (map-side combinable);
    * the merge cascade itself runs over the DISTINCT word table — at
    * production sizing the corpus has ~10⁹ word occurrences but a
    * Heaps-law-sublinear distinct vocabulary, and kernel cost is
    * O(merges · |word|) per DISTINCT word, not per occurrence. The
    * doc-keyed rollup then weights each word's subword count by its
    * occurrence count. The fertility ratio n_subwords / n_words is the
    * standard tokenizer-quality readout. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val word = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("w"))
    val wf = word.groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("__c"))
    val dw = word.select(col("w")).distinct()
      .select(col("w"), size(segment(col("w"), merges)).as("__ns"))
    wf.join(dw, "w")
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_words"),
        sum(col("__c") * col("__ns")).as("n_subwords"))
  }

  /** [[train]] as a DataFrame of (rank, left, right, pair_count). */
  def learnedMerges(docs: DataFrame, textCol: String,
                    numMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, textCol, numMerges).toDS()
      .select(col("rank"), col("left"), col("right"),
        col("pairCount").as("pair_count"))
  }
}
