package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Punctuation + digit code-point counts in ONE byte scan, packed into a
  * long (punct in the high 32 bits, digit in the low 32). The quality
  * signals previously spent two full `regexp_replace` passes per document
  * (~50-100 ns/char in the regex engine, twice) to derive these two
  * integers; the byte scan is ~2 ns/char and feeds five pipeline queries
  * through `withQualitySignals` (quality scorer, curation, budget,
  * mixture report, quality-model features).
  *
  * Counting semantics are EXACTLY those of
  * `length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))`
  * and the `[0-9]` twin (the DuckDB oracle's spelling, differential-
  * tested in FunctionsSpec): Spark's `length` counts code points, and
  * Java regex matches code points, so each non-ASCII code point — one
  * UTF-8 leading byte — counts as one punctuation character; `\s` is
  * exactly the six-byte ASCII set [ \t\n\x0B\f\r] that `WhitespaceTokens.isWs`
  * recognizes, so non-ASCII "whitespace" and ASCII control characters
  * outside that set count as punctuation, matching the regex.
  */
case class CharClassCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    CharClassCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharClassCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharClassCounts =
    copy(child = newChild)
}

object CharClassCounts {

  /** Column-level entry point. */
  def apply(c: Column): Column =
    ColumnBridge.column(CharClassCounts(ColumnBridge.expression(c)))

  /** High half of the packed result: punctuation count. */
  def punct(packed: Column): Column = {
    import org.apache.spark.sql.functions.shiftright
    shiftright(packed, 32).cast("int")
  }

  /** Low half of the packed result: digit count. */
  def digit(packed: Column): Column = {
    import org.apache.spark.sql.functions.lit
    packed.bitwiseAND(lit(0xffffffffL)).cast("int")
  }

  /** Static so generated code dispatches with one monomorphic call.
    * UTF-8 walk: ASCII bytes classify directly; a leading byte
    * (11xxxxxx) is one non-ASCII code point -> punctuation; continuation
    * bytes (10xxxxxx) are skipped.
    */
  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    val n = bytes.length
    var punct = 0
    var digit = 0
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if ((b & 0x80) == 0) {
        if (b >= '0' && b <= '9') digit += 1
        else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z') || WhitespaceTokens.isWs(b)) ()
        else punct += 1
      } else if ((b & 0xc0) == 0xc0) punct += 1
      i += 1
    }
    (punct.toLong << 32) | digit.toLong
  }
}
