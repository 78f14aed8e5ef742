package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Second polynomial hash plane: h = (h*131 + codepoint) % 998244353 —
  * different multiplier AND different prime than [[PolyHashFn]], so the
  * two folds are (practically) independent functions of the string. Both
  * moduli are < 2^30, both folds stay < 2^38 before each reduction: exact
  * in BIGINT on any SQL engine, no hugeint/unsigned tricks needed. */
object PolyHash2Fn {
  final val Mod2 = 998244353L
  final val Mult2 = 131L

  def hash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * Mult2 + cp) % Mod2
      i += Character.charCount(cp)
    }
    h
  }
}

/** Wide (two-plane) string hash: poly_hash(s)·2^31 + poly_hash2(s).
  *
  * The single 30-bit poly hash saturates as a dedup PREFILTER at corpus
  * scale: at ~10^13 windows over a 2^30 space every value repeats ~10^4
  * times and a `count > 1` repeated-gate passes essentially the whole
  * corpus (millions of birthday collisions measured at just 180M
  * windows; SCALE.md "Exact-substring excision"). The wide key's space
  * is (1e9+7)·998244353 ≈ 2^59.8 — expected colliding pairs drop from
  * ~n²/2^31 to ~n²/2^60.8, a sliver even at 100 TB — while every
  * intermediate still fits signed 64-bit arithmetic on BOTH engines
  * (value < 2^61), so the DuckDB oracle replays it with plain BIGINT
  * lambdas, no hugeint.
  *
  * `wide >> 31` recovers the legacy 30-bit hash exactly (spec-pinned) —
  * the top plane IS [[PolyHashFn]], unchanged. */
object PolyHashWideFn {
  /** 2^31 — the top-plane shift. poly_hash < 1e9+7 < 2^30, so
    * wide < 2^61 + 2^30: positive, BIGINT-exact on both engines. */
  final val Shift = 31

  def hash(s: UTF8String): Long =
    (PolyHashFn.hash(s) << Shift) + PolyHash2Fn.hash(s)
}

/** poly_hash_wide(s). Registered by [[graft.GraftExtensions]]. */
case class PolyHashWide(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash_wide requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "poly_hash_wide"

  protected override def nullSafeEval(input: Any): Any =
    PolyHashWideFn.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashWideFn.hash($c)")

  override protected def withNewChildInternal(
      newChild: Expression): PolyHashWide =
    copy(child = newChild)
}
