package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** B10 × B9: the MinHash sketch as a first-class `TypedImperativeAggregate`
  * — the production shape of the sketch algebra d17 verifies. Input is the
  * per-row array of (h1, h2) hash pairs (one md5 per shingle —
  * `graft.ops.Dedup.shingleHashPairs`); the buffer is a fixed-width
  * `Array[Long]` of `numHashes` running minima of the Kirsch-Mitzenmacher
  * family h1 + i·h2. Because merge is an elementwise min, partial sketches
  * combine on the map side and across partitions/sources/days in ANY order
  * — at 100 TB a corpus-wide signature is one hash-agg pass with 8-byte ×
  * k state per group, and incremental ingest is sketch-merge, never a
  * re-scan of old data.
  *
  * Deterministic: same input set → same sketch, independent of row order
  * and partitioning (min is commutative/associative/idempotent).
  */
case class MinHashSketchAgg(
    child: Expression,
    numHashes: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sketch"

  private val expectedElem = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      if (numHashes >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"minhash_sketch k must be >= 1, got $numHashes")
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sketch expects ${expectedElem.simpleString} array, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var e = 0
      while (e < arr.numElements()) {
        val row = arr.getStruct(e, 2)
        val h1 = row.getLong(0); val h2 = row.getLong(1)
        var i = 0
        while (i < numHashes) {
          val h = h1 + i * h2
          if (h < buf(i)) buf(i) = h
          i += 1
        }
        e += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MinHashSketch {
  def minhash_sketch(hashPairs: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function(
      "minhash_sketch", hashPairs, org.apache.spark.sql.functions.lit(k))
}
