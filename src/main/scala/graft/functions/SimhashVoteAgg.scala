package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Fused SimHash vote aggregation (round 13, the r12 CodegenSizeAudit
  * follow-up).
  *
  * The composed form — `words`·64 parallel `sum((affineHash(h0, b) & 1)
  * * 2 - 1)` aggregates — generates a HashAggregate update method of
  * ~9 KB for 64 bits (~18 KB for 128), past the JVM JIT's ~8 KB
  * `DontCompileHugeMethods` threshold: the glue method runs
  * interpreted and only survives on sub-method JIT (the silent cliff
  * round 12 documented on the PQ encode). This aggregate computes the
  * SAME arithmetic — vote(b) += ((a_b·h0 + b_b) mod (2³¹−1)) & 1)·2−1
  * — as ONE tight primitive loop over constant arrays (JIT-compiled
  * Scala, no generated-code size at all), and `eval` packs the final
  * word longs directly (bit j of word w set iff vote[w·64+j] > 0),
  * replacing the 64-branch `when/bitwiseOR` packing projection too.
  *
  * Bit-for-bit identical to the composition (spec-pinned in
  * DedupSimilaritySpec): same affine family, same mod, same ±1 votes,
  * same strict `> 0` sign rule; null inputs are skipped exactly as
  * `sum` skips them, and an all-null group packs to 0 words exactly as
  * the old `when(sum > 0, ...)` — null sum — `otherwise(0)` did.
  *
  * Runs on ObjectHashAggregateExec (map-side partial merge preserved —
  * the partial state is the `words`·64 long vote vector, same bytes
  * the 64-column UnsafeRow buffer held). */
case class SimhashVotes(child: Expression,
                        a: Array[Long], b: Array[Long], words: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {
  require(a.length == words * 64 && b.length == words * 64,
    s"need ${words * 64} affine constants, got ${a.length}/${b.length}")

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_votes argument must be bigint, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words * 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h0 = v.asInstanceOf[Long]
      val p = graft.text.Dedup.AffineP
      val n = buf.length
      var i = 0
      while (i < n) {
        buf(i) += ((((a(i) * h0 + b(i)) % p) & 1L) << 1) - 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    val n = buf.length
    var i = 0
    while (i < n) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    val out = new Array[Long](words)
    var w = 0
    while (w < words) {
      var word = 0L
      var j = 0
      while (j < 64) {
        if (buf(w * 64 + j) > 0L) word |= 1L << j
        j += 1
      }
      out(w) = word
      w += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimhashVotes =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimhashVotes =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SimhashVotes =
    copy(child = c.head)
  override def prettyName: String = "simhash_votes"
}

object SimhashVoteAgg {
  /** Packed SimHash words (array of `words` longs) aggregated from a
    * per-token poly-fingerprint column. `a`/`b` index the affine bit
    * family by GLOBAL bit — callers pass the same hashConst family the
    * composed form used, so the packed words are bit-identical. */
  def simhashWords(h0: Column, a: Array[Long], b: Array[Long], words: Int): Column =
    ColumnBridge.column(
      SimhashVotes(ColumnBridge.expression(h0), a, b, words).toAggregateExpression())
}
