package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared bit-level mechanics for [[BloomFilterAgg]] and its probe:
  * double hashing (Kirsch & Mitzenmacher, "Less hashing, same performance",
  * 2006) over the two 64-bit halves of md5(item) — probe i sets/tests bit
  * `(h1 + i*h2) mod m`. md5 keeps the scheme engine-portable and is one
  * digest per item however many probes `k` takes.
  */
object BloomFilterFns {

  def bitPositions(item: UTF8String, numBits: Int, k: Int): Array[Int] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(item.getBytes)
    var h1 = 0L; var h2 = 0L
    var i = 0
    while (i < 8) { h1 = (h1 << 8) | (d(i) & 0xffL); i += 1 }
    while (i < 16) { h2 = (h2 << 8) | (d(i) & 0xffL); i += 1 }
    val out = new Array[Int](k)
    var j = 0
    while (j < k) {
      val combined = h1 + j.toLong * h2
      out(j) = ((combined % numBits + numBits) % numBits).toInt
      j += 1
    }
    out
  }

  def set(words: Array[Long], item: UTF8String, k: Int): Unit = {
    val m = words.length * 64
    val pos = bitPositions(item, m, k)
    var i = 0
    while (i < k) {
      words(pos(i) >>> 6) |= (1L << (pos(i) & 63)); i += 1
    }
  }

  /** The `bloom_might_contain(filter, item, k)` row kernel — the PROBE
    * side: false means the item is DEFINITELY absent (the
    * no-false-negatives contract callers rely on); true means "verify
    * exactly". One static call inside the scan's whole-stage-generated
    * loop — one md5 and `k` word tests per row, no join, no shuffle.
    * `bytes` is the serialized filter (8 bytes per word, big-endian via
    * ByteBuffer).
    */
  def mightContain(bytes: Array[Byte], item: UTF8String, k: Int): Boolean = {
    val m = bytes.length * 8
    val pos = bitPositions(item, m, k)
    var i = 0
    while (i < k) {
      val p = pos(i)
      val word = java.nio.ByteBuffer.wrap(bytes, (p >>> 6) * 8, 8).getLong
      if ((word & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }

  /** SplitMix64 finalizer (Steele et al. 2014, public domain) — the
    * long-keyed counterpart of the md5 double-hash above. Two
    * independent 64-bit hashes of the key drive the same Kirsch &
    * Mitzenmacher probe schedule; no digest allocation, so the probe
    * is a handful of multiplies per row — cheap enough to sit inside
    * a 40M-row wedge scan (the g17 prefilter).
    */
  def mixLong(v0: Long): Long = {
    var v = v0 + 0x9E3779B97F4A7C15L
    v = (v ^ (v >>> 30)) * 0xBF58476D1CE4E5B9L
    v = (v ^ (v >>> 27)) * 0x94D049BB133111EBL
    v ^ (v >>> 31)
  }

  def setLong(words: Array[Long], item: Long, k: Int): Unit = {
    val m = words.length * 64
    val h1 = mixLong(item)
    val h2 = mixLong(item ^ 0x6A09E667F3BCC909L) | 1L
    var j = 0
    while (j < k) {
      val combined = h1 + j.toLong * h2
      val p = ((combined % m + m) % m).toInt
      words(p >>> 6) |= (1L << (p & 63)); j += 1
    }
  }

  /** `bloom_might_contain_long(filter, item, k)` — probe side of
    * [[BloomFilterAggLong]]: false = definitely absent, true = verify
    * exactly; a few multiplies and `k` word tests per row.
    */
  def mightContainLong(bytes: Array[Byte], item: Long, k: Int): Boolean = {
    val m = bytes.length * 8
    val h1 = mixLong(item)
    val h2 = mixLong(item ^ 0x6A09E667F3BCC909L) | 1L
    var j = 0
    while (j < k) {
      val combined = h1 + j.toLong * h2
      val p = ((combined % m + m) % m).toInt
      val word = java.nio.ByteBuffer.wrap(bytes, (p >>> 6) * 8, 8).getLong
      if ((word & (1L << (p & 63))) == 0L) return false
      j += 1
    }
    true
  }

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }
}

/** Bloom filter of a string column as a native typed-imperative aggregate —
  * the BUILD side of the 100 TB membership prefilter: each task fills a
  * local m-bit filter, partials OR together word-wise (commutative and
  * associative, so any merge tree yields the IDENTICAL filter — unlike a
  * Misra–Gries summary, a bloom filter is deterministic in the data), and
  * the result is one `m/8`-byte binary that broadcasts to every probe-side
  * task. Shuffling the filter instead of the key set is the entire point:
  * a 100 TB corpus digest set is terabytes; its 2^20-bit filter is 128 KiB.
  *
  * This is the same structure Spark's own runtime-filter optimization
  * injects for shuffle pruning; here it is surfaced as a first-class,
  * composable aggregate so pipelines can build membership filters over any
  * derivation ([[graft.ops.Bloom.admitNew]] uses content digests).
  */
case class BloomFilterAgg(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits % 64 == 0,
    s"numBits must be a positive multiple of 64, got $numBits")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_build"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_build needs a string column, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      BloomFilterFns.set(buf, v.asInstanceOf[UTF8String], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomFilterFns.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomFilterFns.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomFilterFns.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BloomFilterAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomFilterAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomFilterAgg =
    copy(child = newChildren.head)
}

/** [[BloomFilterAgg]] for BIGINT keys: same word-wise-OR merge contract,
  * SplitMix64 double hashing instead of md5 — built for join-key
  * prefilters where the key is (or packs into) one long and the md5
  * digest per row would dominate the probe scan (guide §3.2's manual
  * Bloom-filter join pruning; g17's wedge prefilter probes 40M rows).
  */
case class BloomFilterAggLong(
    child: Expression,
    numBits: Int,
    numHashes: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && numBits % 64 == 0,
    s"numBits must be a positive multiple of 64, got $numBits")
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "bloom_build_long"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_build_long needs a bigint column, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null)
      BloomFilterFns.setLong(buf, v.asInstanceOf[Long], numHashes)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BloomFilterFns.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] =
    BloomFilterFns.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BloomFilterFns.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(offset: Int): BloomFilterAggLong =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomFilterAggLong =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomFilterAggLong =
    copy(child = newChildren.head)
}
