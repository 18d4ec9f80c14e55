package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Map-side token combiner: per partition, (word, n) partial counts of the
  * whitespace tokens of `text` — Hadoop WordCount's map + combine as one
  * operator. Tokens are `WhitespaceTokens`' tokens, counted straight off
  * each line's bytes; no token array, no per-token string. The output is
  * a partial count, not a final one: a word may appear more than once per
  * partition (see `TokenCounter`), so consumers sum `n` by word.
  *
  * The output attributes are constructor fields so that copies made by
  * the optimizer keep the expression ids that parent operators reference.
  */
case class TokenCounts(text: Expression, word: Attribute, n: Attribute, child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Seq(word, n)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): TokenCounts =
    copy(child = newChild)
}

object TokenCounts {

  def apply(text: Expression, child: LogicalPlan): TokenCounts =
    TokenCounts(text, AttributeReference("word", StringType, nullable = false)(),
      AttributeReference("n", LongType, nullable = false)(), child)

  /** (word, n) partial counts over the string column `textCol` of `lines`.
    * The one-column projection underneath lets the scan read only `textCol`.
    */
  def apply(lines: DataFrame, textCol: String): DataFrame = {
    val text = lines.select(col(textCol)).queryExecution.analyzed
    require(text.output.head.dataType == StringType,
      s"TokenCounts: $textCol must be a string column, got ${text.output.head.dataType}")
    ColumnBridge.ofRows(lines.sparkSession, TokenCounts(text.output.head, text))
  }
}

/** Physical `TokenCounts`: one `TokenCounter` per partition. */
case class TokenCountsExec(text: Expression, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numInputTokens" -> SQLMetrics.createMetric(sparkContext, "number of input tokens"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numFlushes" -> SQLMetrics.createMetric(sparkContext, "number of full-table flushes"))

  override protected def doExecute(): RDD[InternalRow] = {
    val tokensIn = longMetric("numInputTokens")
    val rowsOut = longMetric("numOutputRows")
    val flushes = longMetric("numFlushes")
    val bound = BindReferences.bindReference(text, child.output)
    child.execute().mapPartitions { rows =>
      new TokenCounter().counts(rows.map(r => bound.eval(r).asInstanceOf[UTF8String]),
        (tokens, keys, full) => {
          tokensIn.add(tokens); rowsOut.add(keys); if (full) flushes.add(1)
        })
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TokenCountsExec =
    copy(child = newChild)
}

/** Plans `TokenCounts`; injected by `graft.GraftExtensions`. */
object TokenCountsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TokenCounts(text, word, n, child) =>
      TokenCountsExec(text, Seq(word, n), planLater(child)) :: Nil
    case _ => Nil
  }
}

/** The combiner's table: an open-addressing hash table over byte slices.
  * A line is scanned in place (it may point into a reused row buffer), and
  * each new key is copied into an owned byte arena. The table holds at most
  * `maxKeys` keys and `MaxArenaBytes` of key bytes; when the next new key
  * does not fit, it emits its counts and clears — Hadoop's spill-time
  * combine — so memory stays bounded whatever the vocabulary, and a word
  * may be emitted more than once per partition.
  */
final class TokenCounter private[graft] (maxKeys: Int = TokenCounter.MaxKeys) {
  import TokenCounter._

  // entry e: key bytes arena[starts(e), starts(e) + lens(e)), its hash and tally
  private var hashes = new Array[Int](math.min(maxKeys, InitialKeys))
  private var starts = new Array[Int](hashes.length)
  private var lens = new Array[Int](hashes.length)
  private var tallies = new Array[Long](hashes.length)
  // slot -> entry + 1 (0 = empty); at least twice the entry capacity
  private var slots = new Array[Int](slotsFor(hashes.length))
  private var arena = new Array[Byte](InitialArenaBytes)
  private var arenaUsed = 0
  private var numKeys = 0
  private var tokens = 0L
  private val writer = new UnsafeRowWriter(2)

  /** (word, n) rows over the tokens of `lines` (nulls count nothing).
    * `onBatch(tokens, keys, full)` runs as each batch of rows starts: the
    * tokens scanned for it, its row count, and whether the table filled.
    * Rows are reused; consume each before asking for the next.
    */
  def counts(lines: Iterator[UTF8String], onBatch: (Long, Int, Boolean) => Unit): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var line: UTF8String = null
      private var pos = 0
      private var emitted = 0
      private var exhausted = false

      /** Scan until the input ends (true) or the table is full (false). */
      private def fill(): Boolean = {
        while (true) {
          if (line == null) {
            if (!lines.hasNext) return true
            line = lines.next()
            pos = 0
          }
          if (line != null) {
            pos = scan(line, pos)
            if (pos < line.numBytes) return false
            line = null
          }
        }
        true
      }

      override def hasNext: Boolean = {
        if (emitted < numKeys) return true
        if (emitted > 0) { clear(); emitted = 0 }
        if (exhausted) return false
        exhausted = fill()
        onBatch(tokens, numKeys, !exhausted)
        tokens = 0
        numKeys > 0
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException
        val e = emitted
        emitted += 1
        writer.reset()
        writer.zeroOutNullBytes()
        writer.write(0, arena, starts(e), lens(e))
        writer.write(1, tallies(e))
        writer.getRow
      }
    }

  /** Count the tokens of `s` from byte `from`. Returns `s.numBytes`, or the
    * start of the first token that is a new key the full table cannot take.
    */
  private def scan(s: UTF8String, from: Int): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    var i = from
    var b: Byte = 0
    while (i < n) {
      while (i < n && WhitespaceTokens.isWs(Platform.getByte(base, off + i))) i += 1
      if (i < n) {
        val start = i
        var h = FnvOffset
        while (i < n && { b = Platform.getByte(base, off + i); !WhitespaceTokens.isWs(b) }) {
          h = (h ^ (b & 0xff)) * FnvPrime
          i += 1
        }
        if (!add(base, off + start, i - start, mix(h))) return start
        tokens += 1
      }
    }
    n
  }

  /** Count one occurrence of the key at (base, addr, len); false when it
    * is new and the table has no room for it.
    */
  private def add(base: AnyRef, addr: Long, len: Int, h: Int): Boolean = {
    if (numKeys == hashes.length && numKeys < maxKeys) grow()
    val mask = slots.length - 1
    var slot = h & mask
    while (true) {
      val e = slots(slot) - 1
      if (e < 0) {
        if (numKeys == maxKeys || (numKeys > 0 && arenaUsed.toLong + len > MaxArenaBytes)) return false
        insert(slot, base, addr, len, h)
        return true
      }
      if (hashes(e) == h && lens(e) == len && ByteArrayMethods.arrayEquals(
          arena, Platform.BYTE_ARRAY_OFFSET + starts(e), base, addr, len)) {
        tallies(e) += 1
        return true
      }
      slot = (slot + 1) & mask
    }
    true
  }

  private def insert(slot: Int, base: AnyRef, addr: Long, len: Int, h: Int): Unit = {
    if (arenaUsed + len > arena.length) {
      arena = java.util.Arrays.copyOf(arena,
        math.max(arenaUsed + len, math.min(arena.length.toLong * 2, Int.MaxValue - 8).toInt))
    }
    Platform.copyMemory(base, addr, arena, Platform.BYTE_ARRAY_OFFSET + arenaUsed, len)
    hashes(numKeys) = h
    starts(numKeys) = arenaUsed
    lens(numKeys) = len
    tallies(numKeys) = 1L
    slots(slot) = numKeys + 1
    arenaUsed += len
    numKeys += 1
  }

  /** Double the entry capacity (up to `maxKeys`) and rehash. */
  private def grow(): Unit = {
    val cap = math.min(maxKeys.toLong, hashes.length * 2L).toInt
    hashes = java.util.Arrays.copyOf(hashes, cap)
    starts = java.util.Arrays.copyOf(starts, cap)
    lens = java.util.Arrays.copyOf(lens, cap)
    tallies = java.util.Arrays.copyOf(tallies, cap)
    slots = new Array[Int](slotsFor(cap))
    val mask = slots.length - 1
    var e = 0
    while (e < numKeys) {
      var slot = hashes(e) & mask
      while (slots(slot) != 0) slot = (slot + 1) & mask
      slots(slot) = e + 1
      e += 1
    }
  }

  private def clear(): Unit = {
    java.util.Arrays.fill(slots, 0)
    numKeys = 0
    arenaUsed = 0
  }
}

object TokenCounter {
  /** Key bound per table: 64k keys, a few MB with their arena. */
  val MaxKeys: Int = 1 << 16
  /** Key-byte bound per table, so a vocabulary of very long tokens flushes
    * early too. A single longer token still fits: the arena grows for it.
    */
  val MaxArenaBytes: Int = 16 << 20
  private[graft] val InitialArenaBytes = 1 << 12
  private val InitialKeys = 256
  private val FnvOffset = 0x811c9dc5
  private val FnvPrime = 0x01000193

  /** A power of two at least twice `keys`: load factor at most 1/2. */
  private def slotsFor(keys: Int): Int = Integer.highestOneBit(math.max(keys, 1)) << 2

  /** Murmur3's finalizer: spreads the FNV bits over the slot mask. */
  private def mix(h0: Int): Int = {
    var h = h0
    h ^= h >>> 16
    h *= 0x85ebca6b
    h ^= h >>> 13
    h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }
}
