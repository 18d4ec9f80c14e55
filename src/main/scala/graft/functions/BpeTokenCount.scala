package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Count of BPE-ish segments — matches of
  * `[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]` — without running a regex or
  * materializing the matches. The `regexp_extract_all(...)` spelling
  * allocates one UTF8String per segment (a ~300-element array per
  * document) only for `size()` to throw it away; this is the TokenCount
  * treatment for the second tokenizer: one byte walk, zero allocation.
  *
  * The walk replicates java.util.regex `find()` semantics for this
  * pattern exactly (differential-pinned in FunctionsSpec):
  * - at an ASCII letter: one match of up to 4 consecutive ASCII letters
  *   (greedy, nothing follows the alternation so no backtracking);
  * - at an ASCII digit: one match of up to 3 consecutive digits;
  * - at ASCII whitespace (`\s` = space \t \n \x0B \f \r — Java's \s is
  *   ASCII-only by default): no match, scan advances one byte;
  * - at any other CODE POINT (unicode letters, unicode whitespace,
  *   punctuation, emoji — all outside the first two classes and not \s):
  *   one match of exactly one code point, which in UTF-8 is one lead
  *   byte plus its continuation bytes.
  */
case class BpeTokenCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override protected def nullSafeEval(input: Any): Any =
    BpeTokenCount.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeTokenCount.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

object BpeTokenCount {

  /** Column-level entry point. */
  def apply(c: Column): Column =
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expression(c)))

  private def isLetter(b: Byte): Boolean =
    (b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')

  private def isDigit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** Static so generated code dispatches with one monomorphic call. */
  def compute(s: UTF8String): Int = {
    val bytes = s.getBytes
    val n = bytes.length
    var count = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (isLetter(b)) {
        var run = 1
        while (run < 4 && i + run < n && isLetter(bytes(i + run))) run += 1
        count += 1
        i += run
      } else if (isDigit(b)) {
        var run = 1
        while (run < 3 && i + run < n && isDigit(bytes(i + run))) run += 1
        count += 1
        i += run
      } else if (WhitespaceTokens.isWs(b)) {
        i += 1
      } else {
        // one code point: lead byte's high bits give the sequence length
        count += 1
        val u = b & 0xff
        i += (if (u < 0x80) 1
              else if ((u & 0xe0) == 0xc0) 2
              else if ((u & 0xf0) == 0xe0) 3
              else 4)
      }
    }
    count
  }
}
