package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Jump consistent hash (Lamping & Veach, "A Fast, Minimal Memory,
  * Consistent Hash Algorithm", arXiv:1406.2294): maps a 64-bit key to a
  * bucket in [0, n) such that growing n → n+1 moves EXACTLY the expected
  * 1/(n+1) fraction of keys, and every moved key lands in the NEW bucket.
  *
  * This is the standing-ownership assignment `pmod(hash, n)` cannot
  * provide: mod-N remaps ~(1 − 1/n) of all keys on any resize, which at
  * 100 TB means a full-corpus rewrite to add one shard. Jump hash makes
  * resharding an increment-only operation.
  * No memory, no lookup table: ~ln(n) iterations of an LCG per key.
  *
  * Signed-long arithmetic note: the reference algorithm is defined on
  * uint64. Java's wrapping `*`/`+` match uint64 arithmetic bit-for-bit,
  * and `>>> 33` then always yields a non-negative value that fits a
  * double exactly — so this port is value-identical to the paper's C++.
  */
object JumpHashFn {
  final val Lcg = 2862933555777941757L

  def hash(key: Long, n: Int): Int = {
    var k = key
    var b = -1L
    var j = 0L
    while (j < n) {
      b = j
      k = k * Lcg + 1
      j = ((b + 1) * (2147483648.0 / ((k >>> 33) + 1).toDouble)).toLong
    }
    b.toInt
  }
}

/** Native expression `jump_hash(key, n)` → int in [0, n). The loop is
  * data-dependent (can't be expressed with SQL functions or HOFs over a
  * fixed-shape array), which is exactly the custom-Expression niche:
  * interpreted eval + a static codegen call keep it inside whole-stage
  * codegen. `n` must be a positive integer literal (shard counts are
  * plan-time constants). Registered by [[graft.GraftExtensions]].
  */
case class JumpHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, IntegerType) =>
        if (!right.foldable)
          TypeCheckResult.TypeCheckFailure(
            "jump_hash bucket count must be a literal")
        else right.eval() match {
          case null => TypeCheckResult.TypeCheckFailure(
            "jump_hash bucket count must be a non-null literal")
          case n: Integer if n <= 0 => TypeCheckResult.TypeCheckFailure(
            s"jump_hash bucket count must be positive, got $n")
          case _ => TypeCheckResult.TypeCheckSuccess
        }
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"jump_hash requires (bigint, int), got $l and $r")
    }

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "jump_hash"

  protected override def nullSafeEval(key: Any, n: Any): Any =
    JumpHashFn.hash(key.asInstanceOf[Long], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (k, n) => s"graft.functions.JumpHashFn.hash($k, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JumpHash =
    copy(left = newLeft, right = newRight)
}
