package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Token COUNT without token materialization: the same whitespace byte
  * scan as `WhitespaceTokens`, but emitting only the count — no per-token
  * UTF8String slices, no array allocation. Token counting is all several
  * pipeline operators need (`packSequences`, `budgetSample`,
  * `tokenStats`), and at corpus scale the discarded array is pure
  * allocation pressure on the hottest scan.
  */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    TokenCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): TokenCount =
    copy(child = newChild)
}

object TokenCount {

  /** Column-level entry point. */
  def apply(c: Column): Column =
    ColumnBridge.column(TokenCount(ColumnBridge.expression(c)))

  /** Static so generated code dispatches with one monomorphic call. Must
    * count exactly what `WhitespaceTokens.compute` emits — the optimizer
    * rewrite below is only sound under that equivalence (differential-
    * tested in FunctionsSpec territory: OperatorsSpec hostile corpus).
    */
  def compute(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      while (i < n && WhitespaceTokens.isWs(bytes(i))) i += 1
      if (i < n) count += 1
      while (i < n && !WhitespaceTokens.isWs(bytes(i))) i += 1
    }
    count
  }
}

/** Optimizer rule: `size(whitespacetokens(x))` never needs the array —
  * rewrite to `TokenCount(x)`. Registered through
  * `SparkSessionExtensions.injectOptimizerRule`, so ANY query phrased
  * with the natural spelling (including pure-SQL sessions using the
  * registered functions) gets the allocation-free form. Guarded on
  * `legacySizeOfNull = false`: under the legacy flag `size(null)` is -1
  * while TokenCount is null-propagating, so that (non-default) spelling
  * is left untouched.
  */
object TokenCountRewrite extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Size

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Size(WhitespaceTokens(c), false) => TokenCount(c)
    }
}
