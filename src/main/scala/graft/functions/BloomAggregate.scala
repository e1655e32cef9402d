package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Portable Bloom filter over long keys — the engine's explicit runtime
  * filter. The 100 TB use: build the filter over a selective dimension's
  * join keys (one mergeable aggregate → a few KiB of bitset), broadcast
  * it, and filter the fact side MAP-SIDE before the join shuffle — rows
  * that can't match never enter the exchange. Spark's AQE injects this
  * pattern automatically in some shapes (`runtime.bloomFilter`); the
  * explicit form works across stages AQE can't see through (checkpointed
  * frames, separately-written intermediates, cross-job reuse) and its
  * serialized bytes are engine-independent.
  *
  * Bits are set by double hashing (Kirsch–Mitzenmacher: `h1 + i·h2` needs
  * only two 64-bit hashes for any k, preserving the classic FPR bound),
  * both hashes SplitMix64 finalizers of the key, bit count a power of two.
  * Layout: 4-byte magic "GBF1", int numBits, int numHashes, then the
  * bitset words big-endian — self-describing, so `graft_bloom_contains`
  * needs no parameters beyond the bytes.
  */
object BloomCodec {

  val Magic: Int = 0x47424631 // "GBF1"

  private def mix(v0: Long): Long = {
    var z = v0 + MinHashMixedSignature.Golden
    z = (z ^ (z >>> 30)) * MinHashMixedSignature.Mix1
    z = (z ^ (z >>> 27)) * MinHashMixedSignature.Mix2
    z ^ (z >>> 31)
  }

  def h1(key: Long): Long = mix(key)
  /** Independent second stream; forced odd so `h1 + i·h2` walks all bits. */
  def h2(key: Long): Long = mix(key ^ 0x6A09E667F3BCC909L) | 1L

  def setBits(bits: Array[Long], numBits: Int, numHashes: Int, key: Long): Unit = {
    val a = h1(key); val b = h2(key)
    var i = 0
    while (i < numHashes) {
      val idx = ((a + i * b) & Long.MaxValue) % numBits
      bits((idx >>> 6).toInt) |= 1L << (idx & 63)
      i += 1
    }
  }

  def serialize(bits: Array[Long], numBits: Int, numHashes: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + bits.length * 8)
    bb.putInt(Magic).putInt(numBits).putInt(numHashes)
    bits.foreach(bb.putLong)
    bb.array()
  }

  /** (bits, numBits, numHashes); throws on foreign bytes. */
  def deserialize(bytes: Array[Byte]): (Array[Long], Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    require(bb.getInt() == Magic, "not a GBF1 bloom filter")
    val numBits = bb.getInt(); val numHashes = bb.getInt()
    val bits = Array.fill((numBits + 63) / 64)(bb.getLong())
    (bits, numBits, numHashes)
  }

  private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def readLong(b: Array[Byte], off: Int): Long =
    (readInt(b, off).toLong << 32) | (readInt(b, off + 4).toLong & 0xFFFFFFFFL)

  /** Entry point for both interpreted eval and generated code — the
    * fact-side hot path, called once per probed row. Reads the k probed
    * words DIRECTLY from the serialized bytes (header: two manual int
    * reads): an earlier draft deserialized the whole bitset per row, and
    * 600k rows × a fresh 4 KiB long[] allocation made the probe stage
    * cost more than the join it was pruning (q_bloom_semi_join
    * 3.3 s → 1.0 s at sf0.1).
    */
  def contains(bytes: Array[Byte], key: Long): Boolean = {
    require(readInt(bytes, 0) == Magic, "not a GBF1 bloom filter")
    val numBits = readInt(bytes, 4)
    val numHashes = readInt(bytes, 8)
    val a = h1(key); val b = h2(key)
    var i = 0
    while (i < numHashes) {
      val idx = ((a + i * b) & Long.MaxValue) % numBits
      val word = readLong(bytes, 12 + (idx >>> 6).toInt * 8)
      if ((word & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `graft_bloom_build(key, numBits, numHashes)` → binary bloom filter.
  * Mergeable (bitwise OR), so Spark's partial aggregation builds per-task
  * filters map-side and ORs them in one small final merge — the build
  * never shuffles keys, only `numBits/8`-byte buffers.
  */
case class BloomBuild(
    child: Expression,
    numBits: Int = 1 << 16,
    numHashes: Int = 6,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(numBits > 0 && (numBits & (numBits - 1)) == 0, "numBits must be a power of two")
  require(numHashes >= 1 && numHashes <= 16, "numHashes in [1, 16]")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_build requires an integral key, got ${other.sql}")
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long]((numBits + 63) / 64)

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val key = child.dataType match {
        case LongType => v.asInstanceOf[Long]
        case IntegerType => v.asInstanceOf[Int].toLong
        case other => throw new IllegalStateException(s"unsupported $other")
      }
      BloomCodec.setBits(buffer, numBits, numHashes, key)
    }
    buffer
  }

  override def merge(buffer: Array[Long], input: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) |= input(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    BloomCodec.serialize(buffer, numBits, numHashes)

  override def serialize(buffer: Array[Long]): Array[Byte] =
    BloomCodec.serialize(buffer, numBits, numHashes)

  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomCodec.deserialize(bytes)._1

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBuild =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): BloomBuild =
    copy(child = newChildren.head)
}

/** `graft_bloom_contains(filter, key)` — membership probe, codegen'd; the
  * fact-side hot path, so it must stay inside whole-stage codegen (the
  * generated code calls the shared [[BloomCodec]] routine; the
  * deserialization cost is avoided by Spark's subexpression handling only
  * per-row — acceptable because the bitset is a broadcast literal of a
  * few KiB and the parse is two int reads + an array wrap).
  */
case class BloomContains(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (BinaryType, LongType | IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires (binary, integral key), got ${l.sql}, ${r.sql}")
  }
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  private def keyAsLong(v: Any): Long = right.dataType match {
    case LongType => v.asInstanceOf[Long]
    case _ => v.asInstanceOf[Int].toLong
  }

  override protected def nullSafeEval(bytes: Any, key: Any): Any =
    BloomCodec.contains(bytes.asInstanceOf[Array[Byte]], keyAsLong(key))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bytes, key) => {
      s"${ev.value} = graft.functions.BloomCodec.contains($bytes, (long) $key);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomContains =
    copy(left = newLeft, right = newRight)
}
