package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native whitespace tokenizer — the hot inner loop of the entire text
  * surface (WordCount, shingles, language ID, quality). Semantics are
  * EXACTLY `filter(split(text, "\\s+"), t -> length(t) > 0)`: tokens are
  * maximal runs of non-whitespace, where whitespace is Java regex `\s` =
  * {space, \t, \n, \u000B, \f, \r}. Implemented as a single byte scan:
  * all six delimiters are ASCII and UTF-8 continuation bytes are >= 0x80,
  * so a byte-level scan is exact for any UTF-8 input — no regex engine,
  * no intermediate empty tokens, token slices share the input buffer.
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any =
    WhitespaceTokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WhitespaceTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): WhitespaceTokens =
    copy(child = newChild)
}

object WhitespaceTokens {

  /** Column-level entry point. */
  def apply(c: Column): Column =
    ColumnBridge.column(WhitespaceTokens(ColumnBridge.expression(c)))

  /** The six whitespace bytes: space and 0x09-0x0D (\t \n VT \f \r). The
    * delimiter test shared by every byte scan in this package, so their
    * tokens agree by construction.
    */
  def isWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** Static so generated code dispatches with one monomorphic call. */
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val n = bytes.length
    val out = new ArrayBuffer[Any](8)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }
}
