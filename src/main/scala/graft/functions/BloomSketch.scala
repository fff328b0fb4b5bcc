package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A deterministic Bloom filter over string keys (Bloom 1970; the
  * standard double-hashing scheme of Kirsch & Mitzenmacher 2006:
  * index_i = h1 + i·h2 mod m). Both hashes are seeded xxhash64 over the
  * key's UTF-8 bytes — no RNG anywhere, so the same key set always
  * yields the same bit array and a filter built distributed equals one
  * built sequentially (bit-OR is associative + commutative), the
  * property the differential harness and replay idempotency both lean
  * on.
  *
  * The membership contract is one-sided: `contains` can answer a false
  * YES (tunable via bits-per-key) but NEVER a false no — which is
  * exactly what makes it a sound PRE-filter in front of an exact join
  * ([[graft.operators.Dedup]]'s gate): dropped rows provably match
  * nothing; surviving rows are re-checked exactly.
  */
object GBloom {

  private val Seed1 = 0x9747b28c2f1536c5L
  private val Seed2 = 0x8f14e45fceea167aL

  private def h(bytes: Array[Byte], seed: Long): Long =
    XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, seed)

  def add(bits: Array[Long], k: Int, keyBytes: Array[Byte]): Unit = {
    val nbits = bits.length.toLong * 64
    val h1 = h(keyBytes, Seed1)
    val h2 = h(keyBytes, Seed2)
    var i = 0
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits)
      bits((idx >>> 6).toInt) |= (1L << (idx & 63))
      i += 1
    }
  }

  def contains(bits: Array[Long], k: Int, keyBytes: Array[Byte]): Boolean = {
    val nbits = bits.length.toLong * 64
    val h1 = h(keyBytes, Seed1)
    val h2 = h(keyBytes, Seed2)
    var i = 0
    while (i < k) {
      val idx = java.lang.Long.remainderUnsigned(h1 + i * h2, nbits)
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** Self-describing wire form: [k][nlongs][bits…], all big-endian —
    * the sidecar file and the aggregate's result share it, so a stored
    * filter decodes without out-of-band metadata. The bit array moves in
    * one bulk copy (a stored id filter is 2 MiB). */
  def encode(bits: Array[Long], k: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(8 + 8 * bits.length)
    buf.putInt(k).putInt(bits.length).asLongBuffer().put(bits)
    buf.array()
  }

  def decode(bytes: Array[Byte]): (Int, Array[Long]) = {
    val buf = ByteBuffer.wrap(bytes)
    val k = buf.getInt()
    val bits = new Array[Long](buf.getInt())
    buf.asLongBuffer().get(bits)
    (k, bits)
  }

  /** Bitwise union of two encoded filters (must share k and size) —
    * how an append merges its batch's filter into a store's sidecar:
    * union of Blooms IS the Bloom of the union, exactly. */
  def union(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (ka, ba) = decode(a)
    val (kb, bb) = decode(b)
    require(ka == kb && ba.length == bb.length,
      "bloom union requires identical k and size")
    var i = 0
    while (i < ba.length) { ba(i) |= bb(i); i += 1 }
    encode(ba, ka)
  }
}

/** `graft_bloom(key, nbits, k)` — builds the Bloom filter of a string
  * column as a partial aggregate: every map task fills a local bit
  * array and the merge is bitwise OR, so the exchange carries
  * nbits/8-byte buffers per task, never the key stream — the same
  * bounded-shuffle argument as `graft_topk`/`graft_mg`. Returns the
  * [[GBloom.encode]] wire form. nbits must be a positive multiple of
  * 64; null keys are skipped. */
case class BloomAgg(
    item: Expression, nbits: Expression, k: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val nbitsVal: Int = nbits.eval().asInstanceOf[Number].intValue
  private lazy val kVal: Int = k.eval().asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(item, nbits, k)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def checkInputDataTypes(): TypeCheckResult =
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"graft_bloom key must be string, got ${item.dataType.sql}")
    else if (!nbits.foldable || nbits.dataType != IntegerType ||
      nbits.eval() == null || nbits.eval().asInstanceOf[Number].intValue <= 0 ||
      nbits.eval().asInstanceOf[Number].intValue % 64 != 0)
      TypeCheckResult.TypeCheckFailure("graft_bloom nbits must be a positive multiple-of-64 int literal")
    else if (!k.foldable || k.dataType != IntegerType ||
      k.eval() == null || k.eval().asInstanceOf[Number].intValue <= 0)
      TypeCheckResult.TypeCheckFailure("graft_bloom k must be a positive int literal")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nbitsVal / 64)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val v = item.eval(input)
    if (v != null) GBloom.add(b, kVal, v.asInstanceOf[UTF8String].getBytes)
    b
  }

  override def merge(b: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b.length) { b(i) |= other(i); i += 1 }
    b
  }

  override def eval(b: Array[Long]): Any = GBloom.encode(b, kVal)

  override def serialize(b: Array[Long]): Array[Byte] = GBloom.encode(b, kVal)
  override def deserialize(bytes: Array[Byte]): Array[Long] = GBloom.decode(bytes)._2

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomAgg =
    copy(item = newChildren(0), nbits = newChildren(1), k = newChildren(2))
  override def prettyName: String = "graft_bloom"
}

/** `graft_bloom_contains(key, filter)` — membership probe against a
  * FOLDABLE encoded filter (the [[BloomAgg]] result riding as a literal,
  * the [[BpeEncode]] merge-table pattern): decoded once per expression
  * instance, per row the work is k seeded hashes. Evaluates map-side
  * where the probed row lives — the pre-filter never shuffles anything. */
case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, BinaryType) =>
      if (right.foldable) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable filter literal")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, binary), got (${l.sql}, ${r.sql})")
  }

  @transient private lazy val (kVal, bits) =
    GBloom.decode(right.eval(null).asInstanceOf[Array[Byte]])

  override protected def nullSafeEval(key: Any, filterIgnored: Any): Any =
    GBloom.contains(bits, kVal, key.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}
