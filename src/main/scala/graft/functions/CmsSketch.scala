package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** B10 × B9: a Count-Min sketch (Cormode & Muthukrishnan 2005) as a
  * `TypedImperativeAggregate` — the frequency sibling of the MinHash
  * sketch aggregate (x11): where minhash answers "how similar are these
  * sets", CMS answers "how often does this key occur" in fixed memory,
  * the primitive behind heavy-hitter tracking, hot-key detection for
  * salting decisions, and streaming term-frequency maintenance.
  *
  * Input is the per-row array of (h1, h2) md5-derived hash pairs (the
  * x11 convention — one digest per token, both 32-bit halves reused);
  * the buffer is `depth` rows of `width` counters, row i keyed by the
  * Kirsch-Mitzenmacher index (h1 + i·h2) mod width. Update is +1 per
  * row per token; MERGE IS ELEMENTWISE ADD, so partial sketches combine
  * map-side and across partitions/streams in any order — a corpus-wide
  * frequency summary is one hash-agg pass with depth×width×8 bytes of
  * state, and the point estimate min_i(row_i[idx_i(key)]) is ALWAYS an
  * overcount, never an undercount (collisions only inflate).
  *
  * Deterministic: counters depend only on the input multiset, so the
  * estimates (and their overcount vs exact) hash-match any engine that
  * replays the same arithmetic — the x13 oracle rebuilds the identical
  * sketch in SQL.
  */
case class CmsSketchAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  private val expectedElem = StructType(Seq(
    StructField("h1", LongType), StructField("h2", LongType)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _)
        if s.length == 2 && s.forall(_.dataType == LongType) =>
      if (depth >= 1 && width >= 2) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cms_sketch needs depth >= 1 and width >= 2, got ($depth, $width)")
    case other => TypeCheckResult.TypeCheckFailure(
      s"cms_sketch expects ${expectedElem.simpleString} array, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      var e = 0
      while (e < arr.numElements()) {
        val row = arr.getStruct(e, 2)
        val h1 = row.getLong(0); val h2 = row.getLong(1)
        var i = 0
        while (i < depth) {
          // Math.floorMod, not %: the documented input convention is 32-bit
          // md5 halves (h1 + i*h2 stays positive), but a caller feeding
          // negative or full-64-bit longs would get a negative Java remainder
          // and an out-of-bounds write; floorMod keeps the index in [0, width)
          // for any long at identical cost.
          buf(i * width + java.lang.Math.floorMod(h1 + i * h2, width.toLong).toInt) += 1L
          i += 1
        }
        e += 1
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(depth * width)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object CmsSketch {
  def cms_sketch(hashPairs: Column, depth: Int, width: Int): Column =
    org.apache.spark.sql.functions.call_function("cms_sketch", hashPairs,
      org.apache.spark.sql.functions.lit(depth),
      org.apache.spark.sql.functions.lit(width))
}
